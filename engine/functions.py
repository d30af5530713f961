"""Scalar function families (SURVEY.md §2.8) — one composite,
oracle-checked query per family so every function is differentially
tested against DuckDB.

Dialect notes (SURVEY §2.8 traps, all verified against DuckDB 1.0.0):
- regex patterns stay in the Java-regex ∩ RE2 common subset;
- DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
  replace-all semantics;
- DuckDB ``CAST(double AS INT)`` rounds while Spark truncates — casts
  of positive doubles are expressed as floor() on the oracle side;
- timestamps are emitted as ISO strings / epoch bigints, never raw.

Everything here is built-in ``pyspark.sql.functions`` — JVM codegen,
no Python in the hot path (SURVEY §4 vectorized-execution obligation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.io import load_table as _t
from engine.registry import register


@register(
    "q_fn_string",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_up,
           lower(c_name) AS name_lo,
           substring(c_name, 1, 8) AS name_pre,
           concat_ws('|', c_mktsegment, c_name) AS joined,
           length(c_name) AS name_len,
           lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nat_pad,
           instr(c_name, '#') AS hash_pos,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
           regexp_replace(c_name, '0', '', 'g') AS no_zeros,
           trim(concat(' ', c_mktsegment, ' ')) AS trimmed,
           reverse(c_mktsegment) AS seg_rev,
           repeat('*', c_nationkey % 4) AS stars,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr
    FROM customer
    """,
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, substring, concat, pad, instr, regex, trim,
    reverse, repeat, translate."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_up"),
        F.lower("c_name").alias("name_lo"),
        F.substring("c_name", 1, 8).alias("name_pre"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nat_pad"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
        F.regexp_extract("c_name", "([0-9]+)", 1).cast("long").alias("name_num"),
        F.regexp_replace("c_name", "0", "").alias("no_zeros"),
        F.trim(F.concat(F.lit(" "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.repeat(F.lit("*"), (F.col("c_nationkey") % 4)).alias("stars"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_tr"),
    )


@register(
    "q_fn_date",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dy,
           quarter(o_orderdate) AS qtr,
           dayofweek(o_orderdate) + 1 AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: extract fields, truncate, interval arithmetic,
    last_day, datediff, epoch. (DuckDB dayofweek is 0-based Sunday,
    Spark dayofweek is 1-based Sunday -> +1 on the oracle side.)"""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias("days_since"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@register(
    "q_fn_math",
    oracle="""
    SELECT p_partkey,
           round(p_retailprice, 0) AS price_r0,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           abs(p_size - 25) AS size_dev,
           round(sqrt(p_retailprice), 6) AS price_sqrt,
           round(ln(p_retailprice), 6) AS price_ln,
           round(log10(p_retailprice), 6) AS price_log10,
           round(power(p_size, 2), 6) AS size_sq,
           ((p_size % 7) + 7) % 7 AS size_pmod,
           CAST(sign(p_size - 25) AS INTEGER) AS size_sign,
           round(exp(p_size / 100.0), 6) AS size_exp
    FROM part
    """,
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: round/floor/ceil/abs/sqrt/ln/log10/pow/pmod/sign/exp.
    Transcendentals rounded to 6 (generic values -> boundary-free)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 0).alias("price_r0"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.round(F.log10("p_retailprice"), 6).alias("price_log10"),
        F.round(F.pow("p_size", 2), 6).alias("size_sq"),
        F.pmod(F.col("p_size"), 7).alias("size_pmod"),
        F.signum(F.col("p_size") - 25).cast("int").alias("size_sign"),
        F.round(F.exp(F.col("p_size") / 100.0), 6).alias("size_exp"),
    )


@register(
    "q_fn_array",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[2] AS DOUBLE) AS e2,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
           round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 4) AS head_sum,
           round(CAST(list_sort(embedding)[1] AS DOUBLE), 6) AS vec_min,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0)), 4) AS doubled_sum
    FROM embeddings
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family incl. higher-order transform/filter/aggregate over
    the 64-dim embedding vectors (SURVEY §2.8 q_fn_array)."""
    from engine.llm_ops import vec

    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 2).cast("double").alias("e2"),
        F.round(F.aggregate(vec("embedding"), F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        F.round(
            F.aggregate(vec(F.slice("embedding", 1, 8)), F.lit(0.0), lambda a, x: a + x), 4
        ).alias("head_sum"),
        F.round(F.element_at(F.array_sort("embedding"), 1).cast("double"), 6).alias("vec_min"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform(F.col("embedding"), lambda x: x.cast("double") * 2.0),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            4,
        ).alias("doubled_sum"),
    )


@register(
    "q_fn_explode",
    oracle="""
    SELECT vec_id,
           unnest(range(0, 4)) AS pos,
           CAST(unnest(embedding[1:4]) AS DOUBLE) AS val
    FROM embeddings
    """,
)
def q_fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode of an array slice (1 row -> N rows generator)."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 4)).alias("pos", "val")
    ).select("vec_id", "pos", F.col("val").cast("double").alias("val"))


@register(
    "q_fn_map",
    oracle="""
    SELECT event_id,
           event_type AS et,
           2 AS m_size,
           'et,src' AS keys_csv,
           concat(event_type, ',app') AS vals_csv
    FROM events
    """,
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: create_map, element_at, map_keys/values, cardinality.
    Output flattened to scalars (DuckDB's MAP rendering differs, so the
    oracle reproduces the scalar projections literally)."""
    ev = _t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("et"), F.col("event_type"), F.lit("src"), F.lit("app")
    )
    return ev.select(
        "event_id",
        F.element_at(m, "et").alias("et"),
        F.size(m).alias("m_size"),
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.concat_ws(",", F.map_values(m)).alias("vals_csv"),
    )


@register(
    "q_fn_json",
    oracle="""
    SELECT event_id,
           CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS INTEGER) AS k_str,
           CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS INTEGER) AS k_typed,
           concat('{"k":', regexp_extract(props, '"k":\\s*([0-9]+)', 1), '}') AS rebuilt
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: path extraction (get_json_object), schema-full parse
    (from_json), re-serialization (to_json) over events.props.
    Oracle uses regex extraction to avoid DuckDB extension dependence."""
    ev = _t(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_str"),
        parsed.getField("k").alias("k_typed"),
        F.to_json(parsed).alias("rebuilt"),
    )


@register(
    "q_fn_cond_null",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           coalesce(nullif(l_returnflag, 'N'), 'X') AS flag_or_x,
           least(l_quantity, 25.0) AS qty_cap,
           greatest(l_quantity, 5.0) AS qty_floor,
           (nullif(l_returnflag, 'N') IS NULL) AS was_n,
           CASE WHEN l_discount > 0.05 THEN l_discount END AS big_disc
    FROM lineitem
    """,
)
def q_fn_cond_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null family: coalesce, nullif, least, greatest,
    isnull, CASE-producing-null."""
    li = _t(spark, sf_dir, "lineitem")
    nf = F.nullif(F.col("l_returnflag"), F.lit("N"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(nf, F.lit("X")).alias("flag_or_x"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_cap"),
        F.greatest("l_quantity", F.lit(5.0)).alias("qty_floor"),
        nf.isNull().alias("was_n"),
        F.when(F.col("l_discount") > 0.05, F.col("l_discount")).alias("big_disc"),
    )


@register(
    "q_fn_hash",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(concat_ws('|', c_name, c_mktsegment)) AS rec_sha
    FROM customer
    """,
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic record fingerprints (dedup keys): md5 + sha2-256."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2(F.concat_ws("|", "c_name", "c_mktsegment"), 256).alias("rec_sha"),
    )


@register("q_fn_hash_native")  # rows-only: xxhash64/crc32 are Spark-specific
def q_fn_hash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native hashes (xxhash64, crc32, murmur3) — the cheap
    JVM-side fingerprints used by the §2.11 dedup operators at scale.
    No DuckDB equivalent -> rows-only check + unit-tested determinism."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.xxhash64("c_name").alias("name_xx64"),
        F.crc32(F.col("c_name").cast("binary")).alias("name_crc32"),
        F.hash("c_name").alias("name_murmur3"),
    )


@register(
    "q_fn_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_dec,
           CAST(floor(o_totalprice) AS BIGINT) AS price_long,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           strftime(CAST('1996-06-15' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_parsed,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS roundtrip
    FROM orders
    """,
)
def q_fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast family: double->decimal(18,2), double->long (truncation ==
    floor for positives, aligned with the oracle), long<->string,
    string->timestamp. The decimal is emitted as its exact string form:
    a DecimalType column reaches pandas as ``Decimal`` objects while
    DuckDB hands back float64, so a raw decimal column can never
    value-hash equal across engines — stringifying pins the contract
    (and still exercises the cast + banker's-free HALF_UP rounding)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_dec"),
        F.col("o_totalprice").cast("long").alias("price_long"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.date_format(
            F.to_timestamp(F.lit("1996-06-15")), "yyyy-MM-dd HH:mm:ss"
        ).alias("ts_parsed"),
        F.col("o_orderkey").cast("string").cast("long").alias("roundtrip"),
    )


@register(
    "q_fn_bitwise",
    oracle="""
    SELECT event_id,
           user_id & 255 AS and_mask,
           user_id | 4096 AS or_set,
           xor(user_id, event_id) AS xored,
           user_id << 2 AS shifted,
           bit_count(user_id) AS popcount
    FROM events WHERE event_id < 1000
    """,
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression surface (AND/OR/XOR/shift/popcount) — the
    flag-field and bitmap-index manipulation primitives; all pure
    codegen projections over a pushed filter."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") < 1000).select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(255)).alias("and_mask"),
        F.col("user_id").bitwiseOR(F.lit(4096)).alias("or_set"),
        F.col("user_id").bitwiseXOR(F.col("event_id")).alias("xored"),
        F.shiftleft(F.col("user_id"), 2).alias("shifted"),
        F.bit_count("user_id").alias("popcount"),
    )


@register(
    "q_fn_url",
    oracle="""
    WITH u AS (SELECT doc_id,
                      'https://' || source || '.example.com/docs/' ||
                      CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url,
                      source, lang
               FROM documents)
    SELECT doc_id, url,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           lang AS lang_param
    FROM u
    """,
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing (``parse_url`` HOST/PATH/QUERY-param extraction) —
    the crawl-metadata normalization step of a web-corpus pipeline. The
    fixture has no URL column, so URLs are constructed from document
    fields and parse_url's output is oracle-checked against the ground
    truth the construction implies — a round-trip proof, all codegen
    map-only."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "q_fn_explode_outer",
    oracle="""
    SELECT d.doc_id, t.tok
    FROM documents d LEFT JOIN LATERAL (
        SELECT unnest(list_filter(string_split(d.text, ' '),
                                  x -> len(x) > 5)) AS tok
    ) t ON TRUE
    """,
)
def q_fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode (``explode_outer``): documents whose
    long-token list is empty still emit one NULL row — the LEFT JOIN
    LATERAL semantics that plain explode silently drops (losing parent
    rows is the classic ETL bug this operator exists to avoid). Map-only
    Generate node with outer=true, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    long_toks = F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 5)
    return d.select("doc_id", F.explode_outer(long_toks).alias("tok"))


@register(
    "q_fn_regexp",
    oracle="""
    SELECT event_id,
           regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS k_str,
           len(regexp_extract_all(props, '[0-9]+')) AS n_digit_runs,
           CASE WHEN regexp_matches(props, '"k":\\s*[0-9]{2,}') THEN 1 ELSE 0 END
               AS k_multi_digit,
           regexp_replace(props, '[0-9]', '#', 'g') AS masked
    FROM events
    """,
)
def q_fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar surface in one pass: group extraction
    (``regexp_extract``), match enumeration (``regexp_extract_all`` +
    size), boolean match (``rlike``), and global substitution
    (``regexp_replace``) over the events props JSON. Patterns restricted
    to the Java∩RE2 common dialect (no lookaround/backrefs) so both
    engines execute identical semantics. Map-only codegen, pushdown-
    friendly projection."""
    ev = _t(spark, sf_dir, "events")
    props = F.col("props")
    return ev.select(
        "event_id",
        F.regexp_extract(props, '"k":\\s*([0-9]+)', 1).alias("k_str"),
        F.size(F.regexp_extract_all(props, F.lit("[0-9]+"), F.lit(0))).alias(
            "n_digit_runs"
        ),
        props.rlike('"k":\\s*[0-9]{2,}').cast("int").alias("k_multi_digit"),
        F.regexp_replace(props, "[0-9]", "#").alias("masked"),
    )


@register(
    "q_fn_try",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           TRY_CAST(event_type AS BIGINT) AS type_as_num,
           CASE WHEN CAST(event_id % 10 AS BIGINT) = 0 THEN NULL
                ELSE floor(value / (event_id % 10) * 10000) / 10000.0
                END AS safe_div,
           TRY_CAST(substring(event_type, 1, 1) AS INT) AS first_char_num
    FROM events
    """,
)
def q_fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar surface: ``try_cast`` / ``try_divide`` — the
    ANSI-mode-friendly functions an ingestion layer uses so one
    malformed record NULLs out instead of failing a 100 TB job.
    Numeric-string JSON payloads cast, alphabetic strings -> NULL,
    division by a zero-able denominator -> NULL (DuckDB spells the
    divide CASE/NULLIF since try_divide is Spark-side).
    """
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.try_to_number(
            F.get_json_object("props", "$.k"), F.lit("999999999")
        ).cast("long").alias("k_num"),
        F.col("event_type").try_cast("long").alias("type_as_num"),
        # floor-truncate, not round: a 2-decimal value divided by a
        # small integer lands on .xxxx5 half-boundaries where the
        # engines' round() implementations disagree (3/1000 fixture
        # rows); floor of the identical double is stable
        (F.floor(F.try_divide(F.col("value"), (F.col("event_id") % 10)) * 10000)
         / 10000.0).alias("safe_div"),
        F.substring("event_type", 1, 1).try_cast("int").alias("first_char_num"),
    )


@register(
    "q_fn_datetime_extra",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(date_trunc('quarter', o_orderdate) AS DATE),
                    '%Y-%m-%d') AS qtr_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           CAST(week(o_orderdate) AS INTEGER) AS iso_week,
           CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate)
                AS INTEGER) AS months_since_1995,
           strftime(CAST(o_orderdate AS DATE)
             + CAST(CASE WHEN (8 - isodow(o_orderdate)) % 7 = 0 THEN 7
                         ELSE (8 - isodow(o_orderdate)) % 7 END
                    AS INTEGER), '%Y-%m-%d') AS next_monday
    FROM orders
    """,
)
def q_fn_datetime_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-intelligence scalar surface beyond q_fn_date: quarter
    truncation, month-end, day-of-year, ISO week, month index, and
    next-Monday — the date dimensions a BI layer derives inline. All
    map-only codegen. Cross-engine notes baked into the oracle: ISO
    week (Spark weekofyear == DuckDB week), month index spelled as
    explicit year/month arithmetic (months_between semantics differ),
    and next_day('Mon') expanded to isodow arithmetic (DuckDB has no
    next_day). Date outputs are ISO strings (registry float/date
    policy: pandas widens DATE to Timestamp and breaks the compare)."""
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
            "qtr_start"
        ),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.dayofyear(d).cast("int").alias("doy"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        ((F.year(d) - 1995) * 12 + F.month(d)).cast("int").alias("months_since_1995"),
        F.date_format(F.next_day(d, "Mon"), "yyyy-MM-dd").alias("next_monday"),
    )


@register(
    "q_fn_struct",
    oracle="""
    SELECT o_orderkey,
           to_json(struct_pack(k := o_orderkey, st := o_orderstatus,
                               pri := o_orderpriority)) AS order_json,
           struct_pack(k := o_orderkey, st := o_orderstatus).st AS st_field,
           CAST(struct_pack(a := o_orderstatus)
                  = struct_pack(a := 'F') AS INTEGER) AS is_f
    FROM orders
    """,
)
def q_fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct scalar surface: named-struct construction, field access,
    struct equality, and to_json serialization in one map-only pass —
    the nested-record API a semi-structured pipeline leans on
    (q_fn_json covers the parse direction; this is the build
    direction). JSON field order is construction order on both
    engines, and the struct holds only ints/strings so the
    serialization is byte-identical; the struct itself never reaches
    the output schema (driver canonicalizer contract) — only its
    serialized/extracted scalars do."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("st"),
                F.col("o_orderpriority").alias("pri"),
            )
        ).alias("order_json"),
        F.struct(
            F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("st")
        )["st"].alias("st_field"),
        (
            F.struct(F.col("o_orderstatus").alias("a"))
            == F.struct(F.lit("F").alias("a"))
        )
        .cast("int")
        .alias("is_f"),
    )


@register(
    "q_fn_lambda",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             len(embedding) AS dim
      FROM embeddings
    )
    SELECT vec_id, dim,
           round(list_sum(list_transform(generate_series(1, dim),
                                         i -> emb[i] * emb[dim + 1 - i])), 4)
             + 0.0 AS dot_rev,
           len(list_filter(emb, x -> x > 0.3)) > 0 AS any_big,
           len(list_filter(emb, x -> NOT (abs(x) < 1.0))) = 0 AS all_small,
           CAST(dim * (dim + 1) // 2 AS BIGINT) AS idx_sum
    FROM e
    """,
)
def q_fn_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambda surface beyond q_fn_array's
    transform/filter/aggregate: ``zip_with`` (self-reversed dot
    product), ``exists`` / ``forall`` predicates, and ``sequence``
    folded to an exact integer — the SQL-lambda toolkit for
    array-valued feature columns.

    All map-side codegen expressions, no shuffle at all. The zip_with
    fold is a fixed left-to-right sequence over identically-widened
    doubles (float32 → double on both engines), so the rounded dot is
    cross-engine-stable; exists/forall compare identical doubles; the
    sequence fold is pure integer arithmetic."""
    from engine.llm_ops import vdot, vec

    e = _t(spark, sf_dir, "embeddings")
    d = e.select("vec_id", vec("embedding").alias("emb"), F.size("embedding").alias("dim"))
    return d.select(
        "vec_id",
        "dim",
        (F.round(vdot("emb", F.reverse("emb")), 4) + 0.0).alias("dot_rev"),
        F.exists("emb", lambda x: x > 0.3).alias("any_big"),
        F.forall("emb", lambda x: F.abs(x) < 1.0).alias("all_small"),
        F.aggregate(
            F.sequence(F.lit(1), F.col("dim")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("idx_sum"),
    )
