"""Property-based tests (SURVEY §5.3): engine expressions checked
against plain-Python reference semantics on generated inputs, and
structural invariants of the hierarchy closure on random forests.

Spark round-trips are batched: hypothesis generates the cases, one
DataFrame evaluates them all, properties assert per-row.
"""

from __future__ import annotations

import contextlib
import math
import random
import re
import tempfile
from collections import Counter

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import (
    clean_string,
    ident,
    split_flagged_codes,
    sql_string,
    tokens,
    word_shingles,
)
from pipeline_usnvc_spark.operators.checkpoint import materialize


def _py_clean(s: str) -> str:
    for x, y in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">")]:
        s = s.replace(x, y)
    return s


def _py_tokens(s: str) -> list[str]:
    return [t for t in re.split(r"[^a-zA-Z0-9]+", s.lower()) if t]


# strings assembled from fragments so entity sequences appear often
TEXT = st.lists(
    st.sampled_from(list("abcXYZ012 ,?&;<>\t_-") + ["&amp;", "&lt;", "&gt;", "amp;"]),
    min_size=0,
    max_size=25,
).map("".join)


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_clean_string_matches_reference_semantics(spark, cases):
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    out = df.selectExpr("s", f"{clean_string('s')} AS c").collect()
    for r in out:
        assert r["c"] == _py_clean(r["s"]), r["s"]


@settings(max_examples=15, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_tokens_and_shingles_match_python(spark, cases):
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    out = df.select(
        "s",
        tokens("s").alias("toks"),
        word_shingles(tokens("s"), n=3).alias("sh"),
    ).collect()
    for r in out:
        expect_toks = _py_tokens(r["s"])
        assert list(r["toks"]) == expect_toks, r["s"]
        expect_sh = [
            "_".join(expect_toks[i : i + 3]) for i in range(len(expect_toks) - 2)
        ]
        assert list(r["sh"]) == expect_sh, r["s"]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="ab'\\\n `ü", min_size=1, max_size=6), min_size=1, max_size=6, unique=True))
def test_sql_text_quoting_round_trips(spark, values):
    # each value read back as a literal and as a column name, under
    # both settings of the string-literal escaping conf
    named = spark.createDataFrame([tuple(values)], [f"c{i}" for i in range(len(values))]).toDF(*values)
    conf = "spark.sql.parser.escapedStringLiterals"
    for escaped in ("false", "true"):
        spark.conf.set(conf, escaped)
        try:
            literals = spark.range(1).selectExpr(*(f"{sql_string(v)} AS c{i}" for i, v in enumerate(values)))
            columns = named.selectExpr(*map(ident, values))
            assert list(literals.first()) == values and list(columns.first()) == values
        finally:
            spark.conf.unset(conf)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["US", "CA", "MX", "XX"]), st.booleans(), st.booleans()),
        min_size=1,
        max_size=6,
    )
)
def test_split_flagged_codes_property(spark, spec):
    # build "US, CA?, MX" style lists with optional leading spaces
    raw = ",".join((" " if lead else "") + code + ("?" if unc else "") for code, unc, lead in spec)
    df = spark.createDataFrame([(raw,)], "s string")
    out = df.selectExpr(f"explode({split_flagged_codes('s')}) AS f").collect()
    assert len(out) == len(spec)
    for r, (code, unc, _lead) in zip(out, spec):
        assert r["f"]["Abbreviation"] == code
        assert r["f"]["Uncertainty"] == unc


def _py_paths(edges: list[tuple[int, int | None]], max_depth: int) -> Counter:
    """Every (id, ancestor_id, depth) path of length 1..max_depth, one
    entry per path: the multiset a closure must return, cycles included."""
    parents: dict[int, list[int]] = {}
    for i, p in edges:
        if p is not None:
            parents.setdefault(i, []).append(p)
    out: Counter = Counter()
    for i in {i for i, _ in edges}:
        level = [i]
        for d in range(1, max_depth + 1):
            level = [p for node in level for p in parents.get(node, [])]
            out.update((i, p, d) for p in level)
    return out


@contextlib.contextmanager
def _materialize_mode(spark, reliable: bool):
    """localCheckpoint, or a reliable checkpoint under a fresh
    checkpoint dir that is unset again afterwards (the session is shared)."""
    sc = spark.sparkContext
    if not reliable:
        yield
        return
    sc.setCheckpointDir(tempfile.mkdtemp())
    try:
        yield
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


@settings(max_examples=5, deadline=None)
@given(
    st.integers(min_value=0, max_value=25),
    st.integers(min_value=0, max_value=2),
    st.sampled_from([1, 2, 3, 10, 32]),
    st.booleans(),
    st.randoms(),
)
@example(0, 0, 32, False, random.Random(0))  # empty edges
@example(0, 0, 32, True, random.Random(0))
@example(25, 2, 1, True, random.Random(1))
@example(25, 2, 2, False, random.Random(2))
@example(25, 1, 3, True, random.Random(3))
@example(25, 2, 10, False, random.Random(4))
@example(25, 2, 32, True, random.Random(5))
def test_ancestor_closure_on_random_forest(spark, n, n_cycles, max_depth, reliable, rnd):
    from pipeline_usnvc_spark.operators.hierarchy import ancestors

    # random forest: node i's parent is a random earlier node (or root),
    # plus planted 2-cycles (a <-> b) that only max_depth terminates
    edges = [(i, None if (i == 0 or rnd.random() < 0.2) else rnd.randrange(0, i)) for i in range(n)]
    for c in range(n_cycles):
        a, b = 1000 + 2 * c, 1001 + 2 * c
        edges += [(a, b), (b, a)]
    frame = spark.createDataFrame(edges, "id bigint, parent_id bigint")
    with _materialize_mode(spark, reliable):
        rows = ancestors(frame, "id", "parent_id", max_depth=max_depth).collect()
    got = Counter((r["id"], r["ancestor_id"], r["depth"]) for r in rows)
    assert got == _py_paths(edges, max_depth)


def test_ancestor_closure_rounds_are_logarithmic(spark, monkeypatch):
    """A 24-level chain (depths up to 23) is closed with at most
    ceil(log2 24) + 1 = 6 checkpoints: the seed plus one per doubling."""
    from pipeline_usnvc_spark.operators import hierarchy

    calls = []

    def counting(df, *args, **kwargs):
        calls.append(1)
        return materialize(df, *args, **kwargs)

    monkeypatch.setattr(hierarchy, "materialize", counting)
    edges = [(i, i - 1 if i else None) for i in range(24)]
    frame = spark.createDataFrame(edges, "id bigint, parent_id bigint")
    rows = hierarchy.ancestors(frame, "id", "parent_id").collect()
    assert Counter((r["id"], r["ancestor_id"], r["depth"]) for r in rows) == _py_paths(edges, 32)
    assert len(calls) <= math.ceil(math.log2(24)) + 1


# ---------------------------------------------------------------------------
# table_diff: checked against a plain-Python dict diff on generated
# keyed tables (including null values, which the operator must treat
# null-safely on both keys and compared columns).
# ---------------------------------------------------------------------------
_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda t: t[0],
)


# related rows (key, order, payload): few distinct order values, so
# most keys hold ties that only the payload can break
_RELATED = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=2),
        st.one_of(st.none(), st.text(alphabet="abc", max_size=2)),
    ),
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(_RELATED, st.booleans())
@example([], False)
@example([(0, 1, "b"), (0, 1, "a"), (0, 0, None), (0, 1, None), (3, 2, "a")], True)
def test_nest_records_orders_by_key_then_payload(spark, rows, expr_key):
    from pipeline_usnvc_spark.operators.nest import attach_nested

    related = spark.createDataFrame(rows, "k bigint, o bigint, p string").repartition(3)
    base = spark.createDataFrame([(k,) for k in range(8)], "k bigint")  # keys 6, 7: no rows
    order_by = "-o" if expr_key else "o"
    got = {r["k"]: r["records"] for r in attach_nested(base, related, "k", ["p", "o"], order_by).collect()}
    assert set(got) == set(range(8))
    for k in range(8):
        # (order, payload) ascending; a null payload field sorts first
        want = sorted(
            (r for r in rows if r[0] == k),
            key=lambda r: (-r[1] if expr_key else r[1], r[2] is not None, r[2] or "", r[1]),
        )
        if not want:
            assert got[k] is None, k
        else:
            assert [(r["p"], r["o"]) for r in got[k]] == [(p, o) for _, o, p in want], k


def _py_diff(old, new):
    o, n = dict(old), dict(new)
    out = {}
    for k in o.keys() | n.keys():
        if k not in o:
            out[k] = "added"
        elif k not in n:
            out[k] = "removed"
        elif o[k] != n[k]:
            out[k] = "changed"
    return out


@settings(max_examples=10, deadline=None)
@given(_ROWS, _ROWS)
def test_table_diff_matches_python_dict_diff(spark, old_rows, new_rows):
    from pipeline_usnvc_spark.operators.diff import table_diff

    schema = "k bigint, v bigint"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    got = {r["k"]: r["change"] for r in table_diff(old, new, ["k"]).collect()}
    assert got == _py_diff(old_rows, new_rows)


def test_table_diff_self_is_empty(spark, sf_dir):
    from pipeline_usnvc_spark.operators.diff import table_diff
    from pipeline_usnvc_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    assert table_diff(orders, orders, ["o_orderkey"]).count() == 0


def test_label_propagation_two_clusters(spark):
    """Seeds spread to their cluster; ties break to the smallest
    label; seeds are clamped; isolated nodes stay unreached."""
    from pipeline_usnvc_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (3, 10)],
        "src bigint, dst bigint",
    )
    nodes = spark.createDataFrame(
        [(1, "A"), (2, None), (3, None), (10, None), (11, "B"), (12, None),
         (99, None)],
        "node bigint, label string",
    )
    out = {r["node"]: (r["label"], r["origin"])
           for r in label_propagation(nodes, edges).collect()}
    assert out[1] == ("A", "seed")
    assert out[11] == ("B", "seed")
    assert out[2][0] == "A" and out[2][1] == "propagated"
    assert out[12][0] == "B"
    # nodes 3 and 10 sit between both seeds: one labeled neighbor each
    # at first (3<-2 becomes A, 10<-11 B), then stable; tie rules only
    # kick in when vote counts equalize — assert they got SOME label
    assert out[3][1] == "propagated" and out[10][1] == "propagated"
    assert out[99] == (None, "unreached")


def test_label_propagation_seed_clamped_and_deterministic(spark):
    from pipeline_usnvc_spark.operators.graph import label_propagation

    # seed surrounded by opposite-label majority keeps its own label
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame(
        [(1, "X"), (2, "Y"), (3, "Y"), (4, "Y")], "node bigint, label string"
    )
    a = sorted(map(tuple, label_propagation(nodes, edges).collect()))
    b = sorted(map(tuple, label_propagation(nodes, edges).collect()))
    assert a == b
    out = dict((n, (l, o)) for n, l, o in a)
    assert out[1] == ("X", "seed")


def test_label_propagation_majority_and_tiebreak(spark):
    from pipeline_usnvc_spark.operators.graph import label_propagation

    # node 5: neighbors 2x"B", 1x"A" -> majority B;
    # node 6: one "A" and one "B" neighbor -> tie -> smallest label A
    edges = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3), (6, 1), (6, 2)],
        "src bigint, dst bigint",
    )
    nodes = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "B"), (5, None), (6, None)],
        "node bigint, label string",
    )
    out = {r["node"]: r["label"]
           for r in label_propagation(nodes, edges, max_iter=1).collect()}
    assert out[5] == "B"
    assert out[6] == "A"


def _py_greedy_merge(seq, left, right):
    out, carry = [], None
    for s in seq:
        if carry is not None and carry == left and s == right:
            out.append(left + right)
            carry = None
        else:
            if carry is not None:
                out.append(carry)
            carry = s
    if carry is not None:
        out.append(carry)
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(["a", "b", "c", "ab"]), max_size=10),
            st.sampled_from(["a", "b", "ab"]),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_merge_fold_matches_python(spark, cases):
    """The native greedy-merge fold agrees with the reference Python
    implementation on arbitrary symbol sequences, including
    overlapping runs and merged-symbol inputs."""
    from pipeline_usnvc_spark.operators.bpe import merge_pair

    rows = [(i, seq, l, r) for i, (seq, l, r) in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "i long, syms array<string>, l string, r string"
    )
    # one Spark job for the whole batch: apply each case's own pair
    out = {}
    for l, r in {(l, r) for _, _, l, r in rows}:
        sub = df.filter((F.col("l") == l) & (F.col("r") == r))
        for row in sub.select(
            "i", merge_pair(F.col("syms"), l, r).alias("m")
        ).collect():
            out[row["i"]] = list(row["m"])
    for i, (seq, l, r) in enumerate(cases):
        assert out[i] == _py_greedy_merge(seq, l, r), (seq, l, r)


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_ppm_encode_decode_roundtrip(w, h, seed):
    """decode_ppm inverts a straightforward P6 encoding for arbitrary
    dims and pixel bytes, including whitespace/comment header forms."""
    import numpy as np

    from pipeline_usnvc_spark.operators.multimodal import decode_ppm

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    plain = b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()
    commented = b"P6 # c\n# full line\n %d\t%d # dims\n255\n" % (w, h) + img.tobytes()
    for buf in (plain, commented):
        out = decode_ppm(buf)
        assert out.shape == (h, w, 3)
        assert out.tobytes() == img.tobytes()


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    ow=st.integers(min_value=1, max_value=8),
    oh=st.integers(min_value=1, max_value=8),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_resize_nearest_properties(w, h, ow, oh, seed):
    """Every output pixel of resize_nearest is some input pixel
    (nearest-neighbor never invents values); identity resize is the
    identity; output shape is exact."""
    import numpy as np

    from pipeline_usnvc_spark.operators.multimodal import resize_nearest

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = resize_nearest(img, oh, ow)
    assert out.shape == (oh, ow, 3)
    in_pixels = {tuple(p) for p in img.reshape(-1, 3)}
    assert all(tuple(p) in in_pixels for p in out.reshape(-1, 3))
    assert (resize_nearest(img, h, w) == img).all()


@given(
    n=st.integers(min_value=1, max_value=5000),
    rate=st.sampled_from([4000, 8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_wav_encode_decode_roundtrip(n, rate, seed):
    """decode_wav inverts encode_wav for arbitrary sample counts and
    standard rates, byte-exactly."""
    import numpy as np

    from pipeline_usnvc_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.RandomState(seed % (2**31))
    samples = rng.randint(-32768, 32767, size=n, dtype=np.int16)
    out, out_rate = decode_wav(encode_wav(samples, rate))
    assert out_rate == rate
    assert (out == samples).all()
