"""Cross-corpus deduplication: dedup a new crawl AGAINST a reference corpus.

``dedup_against_reference`` is the batch form of the question every
incremental ingest answers (streaming/neardup.py answers it online): given
an already-curated reference corpus and a NEW batch of documents, which new
documents are exact or near duplicates OF THE REFERENCE? Only cross pairs
matter — new-vs-new dedup is the ordinary single-corpus operators' job, and
reference docs are never re-judged. The declared query binds both sides to
deterministic splits of the documents table (doc_id % 3 == 0 is the
"reference"); ``cross_dedup_df`` is the composable two-DataFrame form a real
pipeline would point at last month's corpus and this week's crawl.

Semantics: per new document — ``exact_dup`` (its 60-bit text hash appears
in the reference), ``near_dup`` (a minhash-LSH cross candidate verified at
shingle-set Jaccard >= 0.5 against some reference doc; computed
independently of exact_dup), ``keep`` = neither. Docs with NULL/too-short
text have no shingles on either engine and simply never match.

100 TB shape: the exact check is one distinct-hash aggregate on the
reference + an AQE-splittable semi join (the reference side never carries
text past the hash). Near-dup reuses the proven single-corpus machinery
(operators/text.py): ONE minhash aggregate per side, band keys from BOTH sides
unioned under a side marker into ONE capped-bucket pass (the skew gate
counts the COMBINED bucket before any collect — a boilerplate band key
shared by millions of reference docs is dropped, never materialized), cross
pairs expanded in-row (bounded by cap^2), and Jaccard verified through the
shared melted one-join verify (``verified_jaccard``) over the union of the
two set tables. Nothing is ever all-pairs; cost scales with candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import hash60_duck, hash60_spark
from ..operators.buckets import capped_buckets
from ..operators.text import (
    BAND_CAP,
    _band_structs,
    _spread_docs,
    bands_sql,
    mh_cte_fragment,
    minhash_wide_df,
    verified_jaccard,
)
from ..sources import load_table
from .registry import declare

REF_MOD = 3  # fixture split: doc_id % REF_MOD == 0 -> reference corpus
_JT = 0.5  # verified-Jaccard threshold (the dedup_near_duplicates value)


@declare(
    "dedup_against_reference",
    oracle=f"""
    WITH newd AS (SELECT * FROM documents WHERE doc_id % {REF_MOD} <> 0),
    refd AS (SELECT * FROM documents WHERE doc_id % {REF_MOD} = 0),
    {mh_cte_fragment('newd', '_n')},
    {mh_cte_fragment('refd', '_r')},
    bands_n AS (
{bands_sql('m_n')}),
    bands_r AS (
{bands_sql('m_r')}),
    allb AS (
      SELECT doc_id, band, bkey FROM bands_n
      UNION ALL SELECT doc_id, band, bkey FROM bands_r),
    okb AS (
      SELECT band, bkey FROM allb
      GROUP BY band, bkey HAVING COUNT(*) BETWEEN 2 AND {BAND_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
      FROM bands_n a
      JOIN okb ON okb.band = a.band AND okb.bkey = a.bkey
      JOIN bands_r b ON b.band = a.band AND b.bkey = a.bkey),
    shh AS (
      SELECT DISTINCT doc_id, {hash60_duck('s')} AS h FROM sh_n
      UNION SELECT DISTINCT doc_id, {hash60_duck('s')} FROM sh_r),
    n AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
    common AS (
      SELECT c.new_id, c.ref_id, COUNT(*) AS n_common
      FROM cand c
      JOIN shh sa ON sa.doc_id = c.new_id
      JOIN shh sb ON sb.doc_id = c.ref_id AND sb.h = sa.h
      GROUP BY c.new_id, c.ref_id),
    near AS (
      SELECT DISTINCT new_id FROM common
      JOIN n na ON na.doc_id = new_id
      JOIN n nb ON nb.doc_id = ref_id
      WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= {_JT}),
    exact AS (
      SELECT DISTINCT nd.doc_id
      FROM newd nd JOIN refd rd
        ON {hash60_duck('nd.text')} = {hash60_duck('rd.text')})
    SELECT d.doc_id,
           (e.doc_id IS NOT NULL) AS exact_dup,
           (v.new_id IS NOT NULL) AS near_dup,
           (e.doc_id IS NULL AND v.new_id IS NULL) AS keep
    FROM newd d
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    LEFT JOIN near v ON v.new_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc=f"Cross-corpus dedup — judge a NEW crawl against an existing "
    f"REFERENCE corpus (the batch twin of the streaming accumulating-index "
    f"check): exact_dup via a distinct-reference-hash semi join, near_dup "
    f"via minhash-LSH cross candidates (both sides' band keys in ONE "
    f"capped-bucket pass, cap {BAND_CAP} on the combined bucket) verified "
    f"at shingle Jaccard >= {_JT}, keep = neither. Only cross pairs are "
    f"generated or verified; reference docs are never re-judged. The "
    f"fixture split is doc_id % {REF_MOD}; cross_dedup_df is the "
    f"two-DataFrame production form.",
)
def dedup_against_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread_docs(load_table(spark, sf_dir, "documents"))
    new = d.filter(F.col("doc_id") % REF_MOD != 0)
    ref = d.filter(F.col("doc_id") % REF_MOD == 0)
    return cross_dedup_df(new, ref)


@declare(
    "dedup_against_reference_fast",
    oracle=None,  # engine-native xxhash64 everywhere by design — the md5 twin above is the oracle-checked one
    doc=f"Production cross-corpus dedup: identical dataflow and output "
    f"contract to dedup_against_reference but every hash is JVM-native "
    f"xxhash64 — exact-check text hash, minhash signature family, and "
    f"shingle-set elements — no per-shingle md5+hex round-trip (the "
    f"dominant cost of the md5 twin at the 1M-doc stress shape) — the "
    f"variant you run at 100 TB. Kept alongside the md5 twin so the "
    f"dataflow stays oracle-verified while the fast path is what the "
    f"stress lane benchmarks (the minhash_lsh_pairs_fast precedent); "
    f"planted cross-pair recovery is pinned for BOTH hash modes by "
    f"tests/test_crossdedup.py (TWINS.json).",
)
def dedup_against_reference_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread_docs(load_table(spark, sf_dir, "documents"))
    new = d.filter(F.col("doc_id") % REF_MOD != 0)
    ref = d.filter(F.col("doc_id") % REF_MOD == 0)
    return cross_dedup_df(new, ref, fast=True)


def cross_dedup_df(
    new: DataFrame, ref: DataFrame, threshold: float = _JT, fast: bool = False
) -> DataFrame:
    """Composable form over two (doc_id, text, ...) DataFrames with globally
    unique doc ids. Returns one row per NEW doc:
    (doc_id, exact_dup, near_dup, keep) ordered by doc_id.

    ``fast`` switches every hash (exact-check text hash, minhash signature
    family, shingle-set elements) from the md5-derived DuckDB-matchable
    forms to JVM-native xxhash64 — same candidate/verify dataflow, no
    per-value md5+hex round-trip (the production mode the stress lane
    benchmarks; the md5 twin stays the oracle-checked one)."""
    # exact: distinct reference text hashes -> semi join (the reference side
    # drops to 1 narrow row per distinct hash before the join)
    texth = "xxhash64(text)" if fast else hash60_spark("text")
    nh = new.select("doc_id", F.expr(texth).alias("h"))
    rh = ref.select(F.expr(texth).alias("h")).distinct()
    exact = (
        nh.join(rh, "h", "left_semi")
        .select("doc_id")
        .withColumn("exact_dup", F.lit(True))
    )

    # near: ONE minhash aggregate over the side-marked union (r13 — the two
    # per-side aggregates each scanned+shingled+hashed their corpus, and the
    # melted verify referenced both AGAIN, so every action paid FOUR
    # corpus-scale aggregate subtrees; the union form pays two: one for the
    # band pass, one for the set pass — same bytes hashed per pass, half
    # the passes). The side marker rides the aggregate as a group_extra
    # column (doc-constant, so the group shape is unchanged).
    u = new.select("doc_id", "text").withColumn("_side", F.lit("n")).unionByName(
        ref.select("doc_id", "text").withColumn("_side", F.lit("r"))
    )
    # share_exchange (r14): `wide` feeds TWO aggregates-worth of consumers
    # (the band explode and the verify-set melt); pinning an explicit doc_id
    # exchange below both lets runtime stage reuse run scan+shingle+hash
    # ONCE per action instead of once per consumer (pass count 2 -> 1).
    # 1M-doc interleaved A/B, both orders: 8.76/9.90 -> 7.76/8.45 s.
    wide = minhash_wide_df(
        u,
        fast=fast,
        with_sets=True,
        spread=False,
        group_extra=("_side",),
        share_exchange=True,
    )

    # the shared band-key definition (_band_structs), payload marked with
    # the side — band_rows' explode with the sd struct payload inlined
    allb = wide.select(
        F.struct(F.col("_side").alias("side"), F.col("doc_id").alias("d")).alias("sd"),
        F.explode(F.array(*_band_structs())).alias("bb"),
    ).select("sd", "bb.band", "bb.bkey")
    buckets = capped_buckets(allb, ["band", "bkey"], "sd", cap=BAND_CAP)
    # in-row cross expansion: new-side x ref-side only (<= cap^2 per bucket)
    pair_expr = (
        "flatten(transform(filter(ids, x -> x.side = 'n'), x -> "
        "transform(filter(ids, y -> y.side = 'r'), y -> "
        "struct(x.d AS new_id, y.d AS ref_id))))"
    )
    cand = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.new_id", "p.ref_id")
        .distinct()
    )
    sets = wide.select("doc_id", "shset", "n_sh")
    near = (
        verified_jaccard(cand, sets, a="new_id", b="ref_id", threshold=threshold)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    return (
        new.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            (
                ~(
                    F.coalesce("exact_dup", F.lit(False))
                    | F.coalesce("near_dup", F.lit(False))
                )
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )
