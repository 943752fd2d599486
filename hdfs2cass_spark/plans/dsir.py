"""DSIR-style data selection: hashed-n-gram importance resampling.

``dsir_importance_weights`` implements the Data Selection with Importance
Resampling recipe (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling" — public knowledge): estimate a TARGET domain's
hashed-unigram distribution and the RAW pool's distribution, weight every
document by its log likelihood ratio sum_tokens ln(p_t(b)/p_r(b)), and
resample via deterministic Gumbel top-k (key = log_w + Gumbel noise — the
standard weighted-sampling-without-replacement trick). The fixture's
stand-in for the high-quality target domain is ``source = 'src1'``.

Cross-engine exactness (the bigram_logprob_score precedent, plans/lm.py):
bucket counts are exact integers; each bucket's log ratio is
round(ln(p_t) - ln(p_r), 9) over correctly-rounded double divisions of
identical exact-int operands, cast to DECIMAL(20,9); per-doc sums are
DECIMAL (exact, order-independent — float summation order differs between
engines); the Gumbel noise is -ln(-ln(u)) of an exact-rational md5 coin
u = (min(coin, 2^60-1024)+1)/2^60 in (0,1) — the clamp keeps u's DOUBLE
strictly below 1.0 (see _U_CLAMP) — rounded to 9 decimals as DECIMAL; the
selection key is a DECIMAL addition (exact) and rank ties break on doc_id.

100 TB shape: the model is ONE map-side-combined aggregate over exploded
words that collapses to B=256 rows per mapper (conditional target counts
ride the same pass — the corpus is scanned, never shuffled, for the fit);
totals are a 1-row aggregate of the 256-row model; scoring re-explodes the
corpus against the BROADCAST 256-row model (re-scanning beats materializing
a corpus-sized position table when the join side is 256 rows — contrast
lm.py, whose model join is corpus-sized and therefore checkpoints) and
aggregates per doc map-side. The global top-k runs as
TakeOrderedAndProject (a k-row heap per partition, then one merge — the
topk_parts_by_price precedent, never a corpus-wide sort); the rank window
then sees only the k = constant survivors.

Registered after every round-6-early module so it appends to the driver's
checked prefix as oracle row #66 — no previously-green row is displaced
(plans/__init__.py's import order is the source of truth; new oracle
queries go in whichever module is imported LAST there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokenize import W_DUCK, W_SPARK, hash60_duck, hash60_spark
from ..operators.text import _spread_docs
from ..sources import load_table
from .registry import declare

DSIR_BUCKETS = 256  # hashed-unigram feature space (B in the paper)
DSIR_K = 100  # documents to resample at the fixture scale
DSIR_TARGET = "src1"  # the fixture's stand-in high-quality target domain
_DEC = "DECIMAL(20, 9)"
# Gumbel coin -> u in (0, 1), BOTH endpoints genuinely unreachable after
# double rounding: coins clamp to 2^60 - 1024 first (1024 is a multiple of
# the 128-ulp double spacing at 2^60, so the clamped +1 numerator rounds to
# 2^60 - 1024, never to 2^60 — an unclamped coin near 2^60 rounds CAST(x AS
# DOUBLE) to exactly 2^60, u = 1.0, and -ln(-ln(1.0)) hard-errors DuckDB
# while Spark yields NULL). The clamp distorts only the top 1024/2^60
# (~2^-50) of coin space, deterministically, identically on both engines.
_U_CLAMP = (1 << 60) - 1024
_U_DEN = float(1 << 60)  # exactly representable

_GCOIN_SPARK = hash60_spark("concat('dsir|', CAST(doc_id AS STRING))")
_GCOIN_DUCK = hash60_duck("'dsir|' || CAST(doc_id AS VARCHAR)")


@declare(
    "dsir_importance_weights",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, unnest({W_DUCK}) AS wd
      FROM documents WHERE text IS NOT NULL),
    wb AS (
      SELECT doc_id, source, CAST({hash60_duck("wd")} % {DSIR_BUCKETS} AS INT) AS b
      FROM w),
    m AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r,
             CAST(COALESCE(SUM(CASE WHEN source = '{DSIR_TARGET}' THEN 1 END), 0)
                  AS BIGINT) AS c_t
      FROM wb GROUP BY b),
    tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
                   CAST(SUM(c_t) AS BIGINT) AS n_t FROM m),
    model AS (
      SELECT b,
             CAST(round(
               ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + {DSIR_BUCKETS} AS DOUBLE))
               - ln(CAST(c_r + 1 AS DOUBLE) / CAST(n_r + {DSIR_BUCKETS} AS DOUBLE)),
               9) AS {_DEC}) AS lr
      FROM m CROSS JOIN tot),
    scored AS (
      SELECT wb.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             SUM(lr) AS logw
      FROM wb JOIN model ON model.b = wb.b
      GROUP BY wb.doc_id),
    keyed AS (
      SELECT doc_id, n_words, logw,
             logw + CAST(round(-ln(-ln(
               CAST(least({_GCOIN_DUCK}, {_U_CLAMP}) + 1 AS DOUBLE)
               / {_U_DEN!r})), 9)
               AS {_DEC}) AS skey
      FROM scored),
    ranked AS (
      SELECT doc_id, n_words, logw, skey,
             ROW_NUMBER() OVER (ORDER BY skey DESC, doc_id) AS rnk
      FROM keyed)
    SELECT doc_id, n_words,
           round(CAST(logw AS DOUBLE), 6) AS log_weight,
           round(CAST(skey AS DOUBLE), 6) AS sample_key,
           CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {DSIR_K} ORDER BY doc_id
    """,
    doc=f"DSIR data selection (Xie et al. 2023): weight every document by "
    f"its hashed-unigram log importance ratio against a target domain "
    f"(source = '{DSIR_TARGET}', {DSIR_BUCKETS} Laplace-smoothed buckets) "
    f"and resample the top {DSIR_K} via deterministic Gumbel top-k — the "
    f"'pick raw web data that looks like the high-quality target' stage of "
    f"a pretraining pipeline. Model fit is one map-side-combined aggregate "
    f"collapsing to {DSIR_BUCKETS} rows; scoring re-scans the corpus "
    f"against the broadcast model; log terms are 9-decimal DECIMALs so "
    f"per-doc sums are exact and order-independent cross-engine; the "
    f"global top-k runs as TakeOrderedAndProject (per-partition k-row "
    f"heaps), never a corpus-wide sort.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dsir_weights_df(_spread_docs(d))


def dsir_weights_df(
    d: DataFrame,
    target_source: str = DSIR_TARGET,
    k: int = DSIR_K,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Composable form over any (doc_id, text, source, ...) DataFrame."""
    wb = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.explode(F.expr(W_SPARK)).alias("wd"))
        .select(
            "doc_id",
            "source",
            F.expr(f"CAST({hash60_spark('wd')} % {buckets} AS INT)").alias("b"),
        )
    )
    m = wb.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_r"),
        F.coalesce(
            F.sum(F.when(F.col("source") == target_source, 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("c_t"),
    )
    # totals derive from the 256-row bucket table itself (unbounded window
    # over the aggregate output), NOT from a second m.agg(): Catalyst inlines
    # a separate agg as a THIRD corpus-wide scan+explode+hash subtree (the
    # r13 before-plan shows it), and exchange reuse is not guaranteed to
    # dedup it. The window sees `buckets` rows on one partition — free.
    w_all = Window.partitionBy()
    model = m.select(
        "b",
        "c_r",
        "c_t",
        F.sum("c_r").over(w_all).cast("bigint").alias("n_r"),
        F.sum("c_t").over(w_all).cast("bigint").alias("n_t"),
    ).select(
        "b",
        F.expr(
            f"CAST(round("
            f"ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + {buckets} AS DOUBLE))"
            f" - ln(CAST(c_r + 1 AS DOUBLE) / CAST(n_r + {buckets} AS DOUBLE)),"
            f" 9) AS {_DEC})"
        ).alias("lr"),
    )
    scored = (
        wb.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("lr").alias("logw"),
        )
    )
    gumbel = F.expr(
        f"CAST(round(-ln(-ln("
        f"CAST(least({_GCOIN_SPARK}, {_U_CLAMP}) + 1 AS DOUBLE)"
        f" / {_U_DEN!r}d)), 9) AS {_DEC})"
    )
    keyed = scored.withColumn("skey", F.col("logw") + gumbel)
    # top-k FIRST (TakeOrderedAndProject: a k-row heap per partition, then
    # one merge — no corpus-wide sort), THEN rank over the k survivors (the
    # unpartitioned window sees k = constant rows at any corpus scale)
    ranked = (
        keyed.orderBy(F.col("skey").desc(), "doc_id")
        .limit(k)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.col("skey").desc(), "doc_id")),
        )
    )
    return (
        ranked.select(
            "doc_id",
            "n_words",
            F.round(F.col("logw").cast("double"), 6).alias("log_weight"),
            F.round(F.col("skey").cast("double"), 6).alias("sample_key"),
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("doc_id")
    )
