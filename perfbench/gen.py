"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
writes the same bytes. Each returns a description of what it planted
(row counts, byte sizes, shares), which the benchmark records with its
result and uses as the expected values of its output checks.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parents[1]

LEVELS = ["Class", "Subclass", "Formation", "Division", "Macrogroup", "Group", "Alliance", "Association"]
SOURCES = ["web", "books", "code", "wiki", "news", "forum", "papers", "legal"]

# Mean rows per unit in each scaled bridge table. UnitXReference is the
# widest bridge of the real export (about 9 citations per unit).
BRIDGE_MEANS = {
    "UnitXReference": 9.0,
    "UnitXSubnation": 3.0,
    "UnitXEcoregionUsfs1994": 1.5,
    "UnitXEcoregionUsfs2007": 1.5,
    "UnitXSimilarUnit": 1.0,
    "unitPredecessor": 0.2,
    "unitObsoleteName": 0.15,
    "unitObsoleteParent": 0.05,
}


def _fixture_tables() -> dict:
    sys.path.insert(0, str(REPO / "tests"))
    from usnvc_fixture import TABLES

    return TABLES


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase pseudo-words built from random syllables."""
    syll = np.array([c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"])
    words: set[str] = set()
    while len(words) < n:
        k = rng.integers(2, 5, size=n)
        picks = rng.integers(0, len(syll), size=(n, 4))
        for row, kk in zip(picks, k):
            words.add("".join(syll[row[:kk]]))
            if len(words) == n:
                break
    return np.array(sorted(words))


def _phrase(rng: np.random.Generator, vocab: np.ndarray, lo: int, hi: int) -> str:
    return " ".join(vocab[rng.integers(0, len(vocab), size=int(rng.integers(lo, hi + 1)))])


def _phrases(rng: np.random.Generator, vocab: np.ndarray, lo: int, hi: int, n: int, pool: int = 2048) -> np.ndarray:
    """n phrases of lo..hi words, drawn from a pool of ``pool`` phrases."""
    choices = np.array([_phrase(rng, vocab, lo, hi) for _ in range(pool)], dtype=object)
    return choices[rng.integers(0, pool, size=n)]


def _write_tsv(path: Path, cols: list[str], rows: list[list[str]]) -> int:
    data = ("\n".join(["\t".join(cols)] + ["\t".join(r) for r in rows]) + "\n").encode("ISO-8859-1")
    path.write_bytes(data)
    return len(data)


def _level_sizes(n: int) -> list[int]:
    """Sizes of the 8 hierarchy levels: 8 roots, geometric growth, sum n."""
    if n < 8 * len(LEVELS):
        raise ValueError(f"an 8-level hierarchy of at least 8 units a level needs {8 * len(LEVELS)} units, not {n}")
    lo, hi = 1.0, 100.0
    for _ in range(100):
        r = (lo + hi) / 2
        if sum(8 * r**lv for lv in range(8)) < n:
            lo = r
        else:
            hi = r
    sizes = [max(8, int(round(8 * lo**lv))) for lv in range(8)]
    sizes[-1] += n - sum(sizes)
    return sizes


def usnvc_export(dest: Path, n_units: int, seed: int) -> dict:
    """A synthetic 18-table USNVC export of ``n_units`` units.

    The hierarchy has the real 8 levels (Class→Association); every unit
    of level L has a parent on level L-1. Dimension tables are the test
    fixture's; the unit, description, citation and all eight bridge
    tables are scaled to ``n_units``.

    Returns the plan: per-table rows and bytes, and per unit its
    ancestor chain (nearest first), which the output check compares
    against the written documents.
    """
    rng = np.random.default_rng([seed, 1])
    dest.mkdir(parents=True, exist_ok=True)
    tables = _fixture_tables()
    vocab = _vocab(rng, 4000)
    sizes = _level_sizes(n_units)
    ids = np.arange(1000, 1000 + n_units)
    level = np.repeat(np.arange(8), sizes)
    parent = np.full(n_units, -1)
    start = 0
    for lv, size in enumerate(sizes):
        if lv:
            prev = start - sizes[lv - 1]
            parent[start : start + size] = prev + rng.integers(0, sizes[lv - 1], size=size)
        start += size

    def col(lo: int, hi: int, n: int = n_units) -> np.ndarray:
        return _phrases(rng, vocab, lo, hi, n)

    def keys(table: str, n: int) -> np.ndarray:
        dim = np.array([r[0] for r in tables[table][1]], dtype=object)
        return dim[rng.integers(0, len(dim), size=n)]

    i = np.arange(n_units)
    eid = ids.astype(str).astype(object)
    lv_name = np.array(LEVELS, dtype=object)[level]
    code = np.char.add(np.array([lv[:2].upper() for lv in LEVELS])[level], np.char.zfill(i.astype(str), 6))
    unit = dict(
        element_global_id=eid,
        parent_id=np.where(parent >= 0, ids[parent].astype(str), ""),
        classif_confidence_id=(i % 3 + 1).astype(str),
        databasecode=code,
        classificationcode=[f"{a + 1}.{b % 7}.{b % 5}" for a, b in zip(level, i)],
        hierarchylevel=lv_name,
        d_classification_level_id=(46 + level).astype(str),
        unitsort=[f"{a + 1}.{b:06d}" for a, b in zip(level, i)],
        parentkey=np.where(parent >= 0, code[np.maximum(parent, 0)], ""),
        scientificname=col(2, 5),
        formattedscientificname=["<i>" + p + "</i> &amp; allies" for p in col(1, 3)],
        translatedname=[p.title() for p in col(2, 6)],
        colloquialname=np.where(i % 5 > 0, [p.title() for p in col(1, 4)], ""),
        grank=np.char.add("G", (i % 5 + 1).astype(str)),
        grankreviewdate=[f"{b % 12 + 1}/{b % 28 + 1}/2016" for b in i],
    )
    desc = dict(
        element_global_id=eid,
        typeconceptsentence=[p + " &amp; more." for p in col(6, 16)],
        typeconcept=col(6, 20),
        diagnosticcharacteristics=col(6, 20),
        physiognomy=col(4, 12),
        floristics=[p + " &lt;taxa&gt;" for p in col(8, 24)],
        dynamics=col(4, 12),
        environment=col(6, 16),
        range=col(3, 8),
        nations=np.array(["US", "US, CA?", " CA?, US", "MX", "US, MX?"], dtype=object)[i % 5],
        tncecoregions=(i % 20).astype(str),
        omernikecoregions=(i % 15).astype(str),
        federallands=(i % 9).astype(str),
        plotcount=(i % 200).astype(str),
        versiondate=[f"{b % 12 + 1}/1/2016" for b in i],
    )

    def frame(cols: list[str], values: dict, n: int) -> list[list[str]]:
        blank = [""] * n
        return [list(r) for r in zip(*[list(values.get(c, blank)) for c in cols])]

    n_refs = max(100, n_units // 4)
    ref_rows = [
        [f"R{k}", f"{s.title()} {1950 + k % 70}", f"{f}. Müller &amp; Café Press."]
        for k, s, f in zip(range(n_refs), col(1, 2, n_refs), col(6, 20, n_refs))
    ]

    bridges: dict[str, list[list[str]]] = {}
    for name, mean in BRIDGE_MEANS.items():
        counts = rng.poisson(mean, size=n_units)
        if name == "UnitXReference":
            counts = np.minimum(counts, n_refs)
        owner = np.repeat(i, counts)
        k = np.arange(len(owner)) - np.repeat(np.cumsum(counts) - counts, counts)
        n = len(owner)
        cols = tables[name][0]
        v: dict = {"element_global_id": eid[owner]}
        if name == "UnitXReference":
            # consecutive citation ids from a random start: distinct per unit
            base = rng.integers(0, n_refs, size=n_units)
            v["reference_id"] = np.char.add("R", ((base[owner] + k) % n_refs).astype(str))
        elif name == "UnitXSubnation":
            v.update(subnation_id=keys("d_subnation", n),
                     d_curr_presence_absence_id=keys("d_curr_presence_absence", n),
                     d_dist_confidence_id=keys("d_dist_confidence", n))
        elif name == "UnitXEcoregionUsfs1994":
            v.update(usfs_ecoregion_id=keys("d_usfs_ecoregion1994", n),
                     d_occurrence_status_id=keys("d_occurrence_status", n))
        elif name == "UnitXEcoregionUsfs2007":
            v.update(usfs_ecoregion_2007_id=keys("d_usfs_ecoregion2007", n),
                     d_occurrence_status_id=keys("d_occurrence_status", n))
        elif name == "UnitXSimilarUnit":
            other = rng.integers(0, n_units, size=n)
            v.update(simglobal_id=eid[other], simnote=col(3, 8, n), simelcode=np.char.add("A", other.astype(str)),
                     simname=["<i>" + p + "</i> Alliance" for p in col(2, 3, n)], simusstatus=["Standard"] * n,
                     simlevelid=(46 + level[other]).astype(str))
        elif name == "unitPredecessor":
            v.update(predecessor_id=[f"P{a}_{b}" for a, b in zip(owner, k)], predecessorcode=[f"A.{a}" for a in owner],
                     predecessorname=col(2, 4, n), predecessorsciname=col(2, 3, n),
                     predecessorcolloquialname=col(1, 3, n), lineagedate=["11/11/2016"] * n,
                     lineagenote=["Split &amp; renamed"] * n, lineageauthorizedby=["Panel"] * n)
        elif name == "unitObsoleteName":
            v.update(obsoletename=[f"{p} {b}" for p, b in zip(col(2, 4, n), k)], obsoletenote=["Renamed"] * n,
                     obsoletedate=["1/21/2016"] * n, obsoleteauthority=["USNVC"] * n)
        else:
            v.update(obsoleteparentcode=[f"OLD.{a}.{b}" for a, b in zip(owner, k)], obsoletedivision=["1.X"] * n,
                     obsoleteparentname=col(2, 4, n), obsoletenote=["Moved"] * n,
                     obsoletedate=["1/21/2016"] * n, obsoleteauthority=["USNVC"] * n)
        bridges[name] = frame(cols, v, n)

    units = frame(tables["unit"][0], unit, n_units)
    descs = frame(tables["unitDescription"][0], desc, n_units)
    rows = {"unit": units, "unitDescription": descs, "reference": ref_rows, **bridges}
    table_rows, table_bytes = {}, {}
    for name, (cols, fixture_rows) in tables.items():
        out = rows.get(name, fixture_rows)
        table_rows[name] = len(out)
        table_bytes[name] = _write_tsv(dest / f"{name}.txt", cols, out)

    chains = []
    for i in range(n_units):
        chain, p = [], parent[i]
        while p >= 0:
            chain.append(int(ids[p]))
            p = parent[p]
        chains.append(chain or [0])
    return {
        "units": n_units,
        "level_sizes": sizes,
        "hierarchy_depth": len(LEVELS),
        "ids": ids.tolist(),
        "ancestors": chains,
        "input_rows": sum(table_rows.values()),
        "input_bytes": sum(table_bytes.values()),
        "table_rows": table_rows,
        "refs_per_unit": table_rows["UnitXReference"] / n_units,
    }


def embeddings(rng: np.random.Generator, n_rows: int, dim: int, bad_share: float = 0.01):
    """``n_rows`` Gaussian float32 vectors as Python lists, of which
    ``bad_share`` are null or one component short, and the mask of the
    valid rows."""
    mat = rng.standard_normal((n_rows, dim)).astype(np.float32)
    bad = rng.random(n_rows) < bad_share
    null = bad & (rng.random(n_rows) < 0.5)
    rows = [None if null[i] else (mat[i, : dim - 1] if bad[i] else mat[i]).tolist() for i in range(n_rows)]
    return rows, mat, ~bad


def corpus(dest: Path, n_docs: int, seed: int, dim: int = 64, n_files: int = 8) -> dict:
    """A training corpus of ``n_docs`` documents as parquet files
    (doc_id bigint, text string, source string, embedding array<float>)
    with planted shares.

    Each document is, in doc_id order, one of:
      original   random words, unique;
      exact      an earlier original re-cased and re-spaced (same
                 normalized fingerprint, so curate keeps the original);
      near       an earlier original with one or two words replaced
                 (word-3-shingle Jaccard >= 0.8 with it, different
                 fingerprint);
      quality    too few tokens, or punctuation-heavy.
    Sources follow a skewed (Zipf) mix; ``quota`` caps each source at
    15% of the originals, so the quota stage drops from the largest.

    About 1% of the embeddings are null or one component short.

    Returns the plan with the drop count every curation stage must
    report, the quota the benchmark passes to curate, and the valid
    embeddings (``valid_ids``, ``valid_matrix`` in float64) for the
    reference top-k.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 20000)
    weights = 1.0 / np.arange(1, len(SOURCES) + 1) ** 1.1
    weights /= weights.sum()
    kinds = rng.choice(4, size=n_docs, p=[0.74, 0.10, 0.08, 0.08])
    kinds[:10] = 0  # dups need earlier originals to point at
    texts, sources = [], []
    originals: list[int] = []
    orig_tokens: list[np.ndarray] = []
    seen: set[str] = set()
    planted = {"original": 0, "exact_dup": 0, "near_dup": 0, "quality": 0}
    per_source = dict.fromkeys(SOURCES, 0)
    for i in range(n_docs):
        kind = kinds[i]
        if kind == 0:
            toks = vocab[rng.integers(0, len(vocab), size=int(rng.integers(60, 160)))]
            text = " ".join(toks)
            src = SOURCES[int(rng.choice(len(SOURCES), p=weights))]
            originals.append(i)
            orig_tokens.append(toks)
            per_source[src] += 1
            planted["original"] += 1
        elif kind == 1:
            j = int(rng.integers(0, len(originals)))
            toks = orig_tokens[j]
            text = "  ".join(t.upper() if k % 3 == 0 else t for k, t in enumerate(toks)) + "."
            src = sources[originals[j]]
            planted["exact_dup"] += 1
        elif kind == 2:
            while True:
                j = int(rng.integers(0, len(originals)))
                toks = orig_tokens[j].copy()
                for pos in rng.choice(len(toks), size=int(rng.integers(1, 3)), replace=False):
                    toks[pos] = vocab[int(rng.integers(0, len(vocab)))]
                text = " ".join(toks)
                if text not in seen and not np.array_equal(toks, orig_tokens[j]):
                    break
            src = sources[originals[j]]
            planted["near_dup"] += 1
        else:
            if i % 2:
                text = _phrase(rng, vocab, 3, 15)
            else:
                text = "!!!!! ".join(vocab[rng.integers(0, len(vocab), size=int(rng.integers(40, 80)))])
            src = SOURCES[int(rng.integers(0, len(SOURCES)))]
            planted["quality"] += 1
        seen.add(text)
        texts.append(text)
        sources.append(src)

    emb, mat, valid = embeddings(rng, n_docs, dim)
    quota = max(1, int(0.15 * planted["original"]))
    planted["quota"] = sum(max(0, c - quota) for c in per_source.values())
    planted["kept"] = planted["original"] - planted["quota"]
    dest.mkdir(parents=True, exist_ok=True)
    in_bytes = 0
    bounds = np.linspace(0, n_docs, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        table = pa.table({
            "doc_id": pa.array(np.arange(lo, hi) + 1, pa.int64()),
            "text": pa.array(texts[lo:hi], pa.string()),
            "source": pa.array(sources[lo:hi], pa.string()),
            "embedding": pa.array(emb[lo:hi], pa.list_(pa.float32())),
        })
        path = dest / f"part-{f:03d}.parquet"
        pq.write_table(table, path)
        in_bytes += path.stat().st_size
    return {
        "docs": n_docs,
        "input_rows": n_docs,
        "input_bytes": in_bytes,
        "quota": quota,
        "planted": planted,
        "shares": {k: planted[k] / n_docs for k in ("exact_dup", "near_dup", "quality", "quota")},
        "dup_share": (planted["exact_dup"] + planted["near_dup"]) / n_docs,
        "source_shares": {s: c / max(1, planted["original"]) for s, c in per_source.items()},
        "bad_vector_share": float(1 - valid.mean()),
        "valid_ids": np.flatnonzero(valid) + 1,
        "valid_matrix": mat[valid].astype(np.float64),
    }


def queries(seed: int, request: int, n: int, dim: int) -> np.ndarray:
    """The float32 query vectors of request number ``request``."""
    return np.random.default_rng([seed, 4, request]).standard_normal((n, dim)).astype(np.float32)


def reference_topk(valid_ids: np.ndarray, valid: np.ndarray, q: np.ndarray, k: int) -> list[list[int]]:
    """Exact cosine top-k in float64, ties broken by ascending id: the
    independent reference the top-k output is checked against."""
    qd = q.astype(np.float64)
    sims = (valid @ qd.T) / (np.linalg.norm(valid, axis=1)[:, None] * np.linalg.norm(qd, axis=1)[None, :])
    out = []
    for j in range(q.shape[0]):
        order = np.lexsort((valid_ids, -sims[:, j]))[:k]
        out.append([int(valid_ids[o]) for o in order])
    return out


def dir_bytes(path: str | os.PathLike) -> int:
    """Total size of the regular files under ``path``, Spark's hidden
    ``.crc``/``_SUCCESS`` bookkeeping files excluded."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total
