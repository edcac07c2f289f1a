"""End-to-end corpus deduplication: the full dedup stack composed
into one auditable pipeline.

    exact stage   fingerprint groupBy → keep min id per group
    near stage    (on exact survivors) shingle inverted index →
                  Jaccard-verified pairs → connected components →
                  keep min id per component

Output is a per-document verdict (kept / exact_dup / near_dup) so a
100 TB run produces both the cleaned corpus (filter kept) and the
removal audit trail in one pass. Every stage is the deterministic,
engine-portable formulation used by q50/q54/q55, so the whole
pipeline has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import doc_fingerprint
from pipeline_usnvc_spark.operators.checkpoint import materialize
from pipeline_usnvc_spark.operators.dedup import ngram_jaccard_pairs
from pipeline_usnvc_spark.operators.graph import connected_components


def dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    int_hash: bool = True,
    resolve_final: bool = False,
) -> DataFrame:
    """(doc_id, verdict, survivor_id): verdict ∈ kept | exact_dup |
    near_dup; survivor_id is the ONE-HOP dedup target (exact keeper,
    or near-dup component min, or self — the q56 oracle contract).

    An exact_dup's keeper can itself be a near_dup, so the one-hop
    target is not always a kept document. Pass ``resolve_final=True``
    to chase the chain (depth ≤ 2 by construction: component minima
    are always kept) so survivor_id always lands on a kept doc —
    what a consumer joining against the kept set wants."""
    # Materialized (r13): fp feeds BOTH the keeper aggregation and the
    # join side below, whose exchanges are different subtrees (one
    # partially aggregates first), so without the cut the
    # tokenize+normalize+md5 over the FULL text ran twice. The frame
    # is (id, 16-byte digest) — the cheapest possible thing to cache.
    fp = materialize(
        docs.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
    )
    keeper_per_fp = fp.groupBy("fp").agg(F.min(id_col).alias("exact_keeper"))
    # Materialized once: both the survivor filter (feeding the near
    # stage) and the final verdict consume this, and the fingerprint
    # is an md5 over the FULL text — the one map-side expression worth
    # never computing twice.
    exact = (
        fp.join(keeper_per_fp, "fp")
        .select(
            id_col,
            "exact_keeper",
            (F.col(id_col) == F.col("exact_keeper")).alias("is_exact_keeper"),
        )
        .transform(materialize)
    )

    survivors = docs.join(
        exact.filter("is_exact_keeper").select(id_col), id_col, "left_semi"
    )
    # int_hash compacts shingle join keys to 8-byte longs (the q99
    # shuffle-bytes win — the pair join is this pipeline's dominant
    # stage: 2.7 s of 4.1 s at sf0.1); the q56 oracle hashes
    # identically so parity is unaffected.
    pairs = ngram_jaccard_pairs(
        survivors, id_col, text_col,
        threshold=jaccard_threshold, int_hash=int_hash,
    )
    comp = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")

    verdict = (
        exact.join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.when(~F.col("is_exact_keeper"), F.lit("exact_dup"))
            .when(F.col("component").isNotNull() & (F.col("component") != F.col(id_col)), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
            F.when(~F.col("is_exact_keeper"), F.col("exact_keeper"))
            .when(F.col("component").isNotNull(), F.col("component"))
            .otherwise(F.col(id_col))
            .alias("survivor_id"),
        )
    )
    if not resolve_final:
        return verdict
    hop = verdict.select(
        F.col(id_col).alias("survivor_id"),
        F.col("survivor_id").alias("final_survivor"),
    )
    return (
        verdict.join(hop, "survivor_id", "left")
        .select(
            id_col,
            "verdict",
            F.coalesce("final_survivor", F.col("survivor_id")).alias("survivor_id"),
        )
    )


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 2000,
    max_punct_ratio: float = 0.3,
    jaccard_threshold: float = 0.8,
    quota: int = 15,
) -> DataFrame:
    """End-to-end curation gate with a full audit trail: every input
    document labelled with the stage that dropped it (or ``kept``).

    Output: ``(doc_id, source, drop_stage, n_tokens)``, one row per
    input document; ``n_tokens`` is the bigint token count the quality
    stage measured, so consumers need not tokenize the text again.

    Stages, in order — each runs only on the previous stage's
    survivors, so the expensive shingle self-join sees the
    post-exact-dedup corpus:

    1. ``quality`` — C4-style rules (token count band, punctuation
       ratio), map-side only;
    2. ``exact_dup`` — normalized-fingerprint keeper (most tokens,
       tie lowest id): one exchange on the 16-byte digest;
    3. ``near_dup`` — single-pass anti-join rule: drop the higher id
       of any Jaccard ≥ ``jaccard_threshold`` pair (int-hashed
       inverted-index join; NOT transitive closure — the iterative
       connected-components variant is ``dedup_corpus``);
    4. ``quota`` — deterministic md5-rank cap per source.

    Deterministic end-to-end (md5-derived orders, integer
    arithmetic): SQL-expressible, hence oracle-exact in q174.

    PRECONDITION: ``id_col`` is unique per row (doc_id is the corpus
    PK). The near-dup stage re-acquires text via a keeper-id semi-join
    against the raw scan; a duplicated id would pull every duplicate
    row of a keeper into the shingle stage (ADVICE r13 — the old
    fp-join formulation selected at most one row per fingerprint).

    The metric frame is checkpointed SLIM (r13): ``staged`` used to
    carry the text column and was deliberately left unmaterialized
    (a corpus-sized checkpoint loses at 100 TB), which re-ran the
    tokenize + fingerprint + punct map pass once per consumer (the
    keeper argmax, the keeper join, the survivor filter, the final
    flags join — the optimizer specializes each copy, so no exchange
    is ever reused). Dropping text from the frame makes the
    checkpoint doc-grain (~40 B/row — cheap at ANY scale), every
    metadata consumer reads it, and the expensive map pass runs
    exactly ONCE; only the near-dup stage re-touches raw text (it
    needs it to build shingles), via a keeper-id semi-join against
    the original column-pruned parquet scan.
    """
    from pyspark.sql import Window

    from pipeline_usnvc_spark.functions.text import tokens

    toks = tokens(text_col)
    punct = F.when(
        F.length(text_col) > 0,
        (
            F.length(text_col)
            - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))
        ).cast("double")
        / F.length(text_col).cast("double"),
    ).otherwise(F.lit(0.0))
    # (fan_out on the staged map pass was tried r14 and measured
    # +1.6 s SLOWER in 4/4 interleaved pairs despite parallelizing the
    # single-task tokenize+fingerprint stage — the keyless repartition
    # of raw text plus the extra exchange cost more than the 0.3 s
    # single-task pass; at scale the input arrives split anyway.)
    staged = materialize(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            doc_fingerprint(text_col).alias("fp"),
            F.size(toks).cast("bigint").alias("n_tokens"),
            punct.alias("punct_ratio"),
        ).withColumn(
            "q_fail",
            (F.col("n_tokens") < min_tokens)
            | (F.col("n_tokens") > max_tokens)
            | (F.col("punct_ratio") > max_punct_ratio),
        )
    )
    # Keeper per fingerprint as a partial-aggregating struct-argmax
    # (most tokens, tie lowest id) — skew-immune: a cluster holding
    # 90% of the corpus reduces map-side instead of hot-spotting a
    # window partition (same reasoning as q157/q160).
    # Materialized (r13): TWO consumers (the survivor semi-join and
    # the final flags join). The checkpointed frame is
    # fingerprint-grain, 24 B/row (16-byte digest + id).
    keepers = materialize(
        staged.filter(~F.col("q_fail"))
        .groupBy("fp")
        .agg(
            F.max(F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg_id")))
            .alias("top")
        )
        .select("fp", (-F.col("top.neg_id")).alias("keeper_id"))
    )
    # The stage-2 survivors ARE the keeper ids (keeper_id is chosen
    # among the quality survivors of its fingerprint group), so the
    # text-carrying frame is one doc_id semi-join against the raw
    # scan — no fp join, no second fingerprint pass.
    s2 = docs.join(
        keepers.select(F.col("keeper_id").alias(id_col)), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.col(text_col).alias("text"),
    )
    pairs = ngram_jaccard_pairs(s2, threshold=jaccard_threshold, int_hash=True)
    # Materialized (r13): TWO consumers (the s3 anti-join feeding the
    # quota stage and the final flags join), and without the cut the
    # whole shingle-explode + inverted-index self-join + pair
    # aggregation re-executed for each (plan-audited: the subtree
    # appeared twice, zero ReusedExchange). The frame is the dropped-id
    # set — 8 B/row, bounded by the near-dup count.
    near_dropped = materialize(
        pairs.select(F.col("id_b").alias("doc_id")).distinct()
    )
    # s3 needs only (doc_id, source): derive it from the slim
    # checkpoint instead of s2 so the raw text column is not
    # re-scanned for a metadata-only consumer.
    s3 = (
        staged.join(
            keepers.select(F.col("keeper_id").alias("doc_id")), "doc_id", "left_semi"
        )
        .join(near_dropped, "doc_id", "left_anti")
        .select("doc_id", "source")
    )
    # row_number()<=k windows prune map-side via Spark's
    # WindowGroupLimit rewrite (see q165), so a hot source never
    # floods one partition here either.
    wq = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    quota_ranked = (
        s3.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= quota)
        .select("doc_id", "rk")
    )
    flags = (
        staged.select("doc_id", "source", "fp", "n_tokens", "q_fail")
        .join(keepers, "fp", "left")
        .join(near_dropped.withColumn("nd", F.lit(True)), "doc_id", "left")
        .join(quota_ranked, "doc_id", "left")
    )
    return flags.select(
        "doc_id",
        "source",
        F.when(F.col("q_fail"), F.lit("quality"))
        .when(
            F.col("keeper_id").isNotNull() & (F.col("doc_id") != F.col("keeper_id")),
            F.lit("exact_dup"),
        )
        .when(F.col("nd").isNotNull(), F.lit("near_dup"))
        # reaching here the doc is an s3 survivor; quota_ranked only
        # carries ranks <= quota, so a NULL rank means beyond-quota
        .when(F.col("rk").isNull(), F.lit("quota"))
        .otherwise(F.lit("kept"))
        .alias("drop_stage"),
        "n_tokens",
    )

