"""UDF / UDAF / UDTF surface (SURVEY.md §2.10).

Every UDF body is chosen to have an exact SQL equivalent so the whole
surface stays oracle-checked (SURVEY §2.10 note). The Arrow-vectorized
forms (pandas_udf / applyInPandas / mapInPandas) are the 100 TB path —
one Python worker per executor core consuming Arrow batches; the
row-at-a-time UDF exists to cover the API but is documented as the slow
path (SURVEY §4: UDFs are the slow path).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from engine.io import load_table as _t
from engine.registry import register


@register(
    "q_udf_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity > 45
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (API coverage; deliberately on a small
    filtered slice — this is the documented slow path)."""

    @F.udf(returnType=DoubleType())
    def net_price(price, discount):
        return price * (1 - discount)

    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@register(
    "q_udf_pandas_scalar",
    oracle="""
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
    FROM documents
    """,
)
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Series->Series pandas UDF (Arrow batches): whitespace
    token count — the LLM-pipeline token-counting primitive."""

    @F.pandas_udf(LongType())
    def n_tokens(text: pd.Series) -> pd.Series:
        return text.str.split(" ").str.len().astype("int64")

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", n_tokens("text").alias("n_tokens"))


@register(
    "q_udf_pandas_agg",
    oracle="""
    SELECT l_returnflag,
           sum(l_extendedprice * l_quantity) / sum(l_quantity) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF via grouped-agg pandas UDF: quantity-weighted mean price
    (exact SQL equivalent: sum(x*w)/sum(w)).

    Note: operates on (price, qty) pairs shipped as two Series per
    group over Arrow; partial aggregation is not available for pandas
    UDAFs, so at 100 TB this shuffles raw pairs — acceptable for truly
    custom aggregates, otherwise prefer built-ins (engine docstring)."""

    @F.pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


@register(
    "q_udf_grouped_map",
    oracle="""
    SELECT c_custkey,
           CASE WHEN sd > 0 THEN (c_acctbal - mu) / sd ELSE 0.0 END AS z_score
    FROM (
        SELECT c_custkey, c_acctbal,
               avg(c_acctbal) OVER (PARTITION BY c_nationkey) AS mu,
               stddev_samp(c_acctbal) OVER (PARTITION BY c_nationkey) AS sd
        FROM customer
    )
    """,
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-apply-combine via applyInPandas: per-nation z-score
    normalization (the per-asset normalization pattern). Each group is
    one Arrow batch in a Python worker; groups are distributed by the
    groupBy hash — scales as long as single groups fit in memory."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["c_acctbal"].mean()
        sd = pdf["c_acctbal"].std(ddof=1)  # matches stddev_samp
        z = (pdf["c_acctbal"] - mu) / sd if pd.notna(sd) and sd > 0 else 0.0
        return pd.DataFrame({"c_custkey": pdf["c_custkey"], "z_score": z})

    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").applyInPandas(
        zscore, "c_custkey long, z_score double"
    )


@register(
    "q_udf_map_batches",
    oracle="""
    SELECT event_id, user_id, value * 2.0 AS boosted
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def q_udf_map_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-partition Arrow-batch transform via mapInPandas — the
    multimodal decode/feature-extract execution shape (SURVEY §2.11):
    arbitrary per-batch Python with streaming iterator semantics."""

    def boost(batches):
        for pdf in batches:
            out = pdf[pdf["event_type"] == "purchase"]
            if len(out):
                yield pd.DataFrame(
                    {
                        "event_id": out["event_id"],
                        "user_id": out["user_id"],
                        "boosted": out["value"] * 2.0,
                    }
                )

    ev = _t(spark, sf_dir, "events")
    return ev.mapInPandas(boost, "event_id long, user_id long, boosted double")


@register(
    "q_udtf",
    oracle="""
    SELECT doc_id,
           unnest(range(0, len(string_split(text, ' ')))) AS pos,
           unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id < 20
    """,
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+): one row -> N rows word splitter with
    positions (the bar-splitter/tokenizer table-function shape)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, word: string")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")):
                yield i, w

    spark.udtf.register("split_words", SplitWords)
    d = _t(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") < 20).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.word
        FROM _udtf_docs d, LATERAL split_words(d.text) t
        """
    )


@register(
    "q_udf_map_arrow",
    oracle="""
    SELECT event_id, user_id, round(value * 1.1, 2) AS uplifted
    FROM events WHERE event_type = 'click'
    """,
)
def q_udf_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-partition transform via ``mapInArrow`` — the zero-copy
    sibling of mapInPandas: batches arrive as ``pyarrow.RecordBatch``
    with NO pandas conversion, the right boundary for libraries that
    speak Arrow natively (tokenizers, image codecs, vector engines).
    Same streaming-iterator scale contract as q_udf_map_batches; the
    arithmetic here uses pyarrow.compute so the batch never leaves
    Arrow memory."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def uplift(batches):
        for batch in batches:
            mask = pc.equal(batch.column("event_type"), pa.scalar("click"))
            kept = batch.filter(mask)
            if kept.num_rows:
                yield pa.RecordBatch.from_arrays(
                    [
                        kept.column("event_id"),
                        kept.column("user_id"),
                        # half_towards_infinity == SQL round-half-up for
                        # positive values (Arrow defaults to banker's
                        # rounding, which diverges from the oracle)
                        pc.round(
                            pc.multiply(kept.column("value"), pa.scalar(1.1)),
                            2,
                            round_mode="half_towards_infinity",
                        ),
                    ],
                    names=["event_id", "user_id", "uplifted"],
                )

    ev = _t(spark, sf_dir, "events")
    return ev.mapInArrow(uplift, "event_id long, user_id long, uplifted double")


@register(
    "q_udtf_arrow",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents WHERE doc_id < 20)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
    FROM t
    """,
)
def q_udtf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARROW-optimized Python UDTF (Spark 4 ``useArrow=True``): the
    same lateral table-function surface as q_udtf but with Arrow
    serialization between the JVM and the Python worker — the tier a
    UDTF should run at when its per-call output is wide or batchy
    (plain-pickle UDTFs pay per-row serialization; Arrow amortizes it
    per batch, the same 10-100× boundary as pandas vs row UDFs). This
    one emits a per-doc token profile (count + distinct count), the
    aggregate-shaped UDTF output pattern."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="n_words: bigint, n_distinct: bigint", useArrow=True)
    class TokenProfile:
        def eval(self, text: str):
            words = text.split(" ")
            yield len(words), len(set(words))

    spark.udtf.register("token_profile", TokenProfile)
    d = _t(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") < 20).createOrReplaceTempView("_udtf_arrow_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.n_words, t.n_distinct
        FROM _udtf_arrow_docs d, LATERAL token_profile(d.text) t
        """
    )
