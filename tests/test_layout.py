"""Repository layout contracts: a hive-partitioned write prunes by
directory, the docs' registry counts match the code, the library holds
no surface that nothing reaches, and generated files are current."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pipeline_usnvc_spark"


def test_hive_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """partitionBy writes hive-style dirs; a reader filter on the
    partition column must become a PartitionFilter (no data files of
    other partitions touched), not a post-scan filter."""
    import glob

    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.sources.tables import load_table

    out = str(tmp_path / "by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    types = [d.rsplit("=", 1)[-1] for d in glob.glob(f"{out}/event_type=*")]
    assert len(types) >= 3

    picked = sorted(types)[0]
    df = spark.read.parquet(out).filter(F.col("event_type") == picked)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert f"PartitionFilters: [isnotnull(event_type" in plan
    # count matches the unpartitioned source
    want = ev.filter(F.col("event_type") == picked).count()
    assert df.count() == want


def test_doc_registry_counts_match_code():
    """VERDICT r06 item 2: registry-count claims in the docs drifted
    from len(ORACLES) twice. Enforce mechanically: every count claim
    in README/ROADMAP/COVERAGE must equal the live registry."""
    import re
    from pathlib import Path

    from pipeline_usnvc_spark.plans import ORACLES, QUERIES

    nq, no = len(QUERIES), len(ORACLES)
    repo = Path(__file__).resolve().parent.parent
    readme = (repo / "README.md").read_text()
    assert f"the query registry: {nq} queries" in readme, (
        f"README query count != {nq}"
    )
    assert f"({no} of {nq};" in readme, f"README oracle count != {no} of {nq}"
    assert f"**{no}/{no} oracle queries hash-exact**" in readme
    # VERDICT r07 item 5: the rows-only claim drifted (23 vs 31).
    # Enforce it equals len(QUERIES) - len(ORACLES).
    assert f"plus {nq - no} rows-only" in readme, (
        f"README rows-only count != {nq - no}"
    )
    roadmap = (repo / "ROADMAP.md").read_text()
    assert f"**{nq} queries / {no} oracle-paired**" in roadmap, (
        f"ROADMAP final registry line != {nq}/{no}"
    )
    coverage = (repo / "COVERAGE.md").read_text()
    m = re.search(r"full queries\(\) index \((\d+) entries, (\d+) oracle-exact\)", coverage)
    assert m and (int(m.group(1)), int(m.group(2))) == (nq, no), (
        f"COVERAGE appendix header != ({nq}, {no})"
    )
    # every registered query name appears somewhere in the COVERAGE index
    missing = [n for n in QUERIES if n not in coverage]
    assert not missing, f"queries absent from COVERAGE.md appendix: {missing[:5]}"


def test_scripts_hold_no_round_named_harness():
    """Superseded per-round harness scripts must not pile up in
    scripts/: a standing tool gets a descriptive name, and a one-off
    probe is deleted once its result is recorded."""
    import re
    from pathlib import Path

    scripts = Path(__file__).resolve().parent.parent / "scripts"
    pattern = re.compile(r"^scale_round|_r\d+\.py$|^ab_r\d+_")
    named = sorted(p.name for p in scripts.iterdir() if pattern.search(p.name))
    assert not named, f"round-named scripts in scripts/: {named}"


def test_product_paths_checkpoint_only_through_materialize():
    """pipelines/ and usnvc/ cut lineage only through
    operators.checkpoint.materialize, which takes the reliable
    checkpoint when a checkpoint dir is set: a raw localCheckpoint
    there would be the one cut that does not survive executor loss."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "pipeline_usnvc_spark"
    raw = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    found = [
        f"{path.relative_to(pkg)}:{n}"
        for sub in ("pipelines", "usnvc")
        for path in sorted((pkg / sub).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert not found, f"raw checkpoint calls outside materialize: {found}"


def test_api_md_matches_generator():
    """API.md is generated (scripts/gen_api_md.py): a public signature
    or docstring summary that changes without regenerating it fails
    here."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_api_md", repo / "scripts" / "gen_api_md.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert (repo / "API.md").read_text() == gen.render(), (
        "API.md is stale: run python scripts/gen_api_md.py"
    )


# The library packages, whose public definitions must be reached, and
# the code that reaches them: every query, pipeline, benchmark and
# script. Tests are not roots: a definition only a test calls is dead.
_LIBRARY = ("operators", "functions", "sources", "streaming")
_ROOTS = (
    PKG / "plans",
    PKG / "pipelines",
    PKG / "usnvc",
    PKG / "session.py",
    PKG / "__main__.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "perfbench",
    REPO / "scripts",
)


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _names(node: ast.AST) -> set[str]:
    """Every name the code under ``node`` uses: bare names, attribute
    names and imported names (comments and docstrings name nothing)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_library_surface_is_reached():
    """Every public function and class under operators/, functions/,
    sources/ and streaming/ is named by a query, pipeline, benchmark or
    script, directly or through another reached definition (a fixed
    point over names). A definition only tests call is deleted with
    its tests, not kept as library surface."""
    used: set[str] = set()
    for root in _ROOTS:
        for path in _py_files(root):
            used |= _names(ast.parse(path.read_text()))

    defs: dict[tuple[str, str], ast.AST] = {}
    for sub in _LIBRARY:
        for path in _py_files(PKG / sub):
            rel = str(path.relative_to(PKG))
            for node in ast.parse(path.read_text()).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs[(rel, node.name)] = node
                elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    for t in targets:
                        if isinstance(t, ast.Name):
                            defs[(rel, t.id)] = node
                elif not isinstance(node, (ast.Import, ast.ImportFrom)) and not (
                    isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
                ):
                    used |= _names(node)  # runs whenever the module is imported

    reached: set[tuple[str, str]] = set()
    while True:
        new = {k for k in defs if k not in reached and k[1] in used}
        if not new:
            break
        reached |= new
        for k in new:
            used |= _names(defs[k])

    dead = sorted(
        f"{rel}::{name}"
        for (rel, name), node in defs.items()
        if (rel, name) not in reached
        and not name.startswith("_")
        and not isinstance(node, (ast.Assign, ast.AnnAssign))
    )
    assert not dead, f"{len(dead)} library definitions nothing reaches: {dead}"
