"""Scalar function families — SURVEY.md §2.8 ops #46-51 (prov. C: the
per-record transform vocabulary of the reference's ETL surface).

One composite query per family so every function is value-checked.
All expressions are JVM-side built-ins (whole-stage codegen; no Python
in the data path).

Cross-engine notes baked in below:
- DuckDB list indexing is 1-based; Spark getItem is 0-based.
- round() on half-way-dense inputs (2-dp money at 1 dp) is NOT
  engine-stable — rounding is only applied to irrational outputs
  (sqrt/ln/pow) where half-way points have measure zero.
- Spark dayofweek is 1=Sunday..7; DuckDB dayofweek is 0=Sunday..6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import _LCENTS
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS uname,
           lower(c_mktsegment) AS lseg,
           trim(concat('  ', c_name, '  ')) AS trimmed,
           substr(c_name, 1, 8) AS prefix8,
           length(c_name) AS name_len,
           concat(c_name, '-', c_mktsegment) AS joined,
           string_split(c_name, '#')[2] AS after_hash,
           replace(c_name, 'Customer', 'Cust') AS replaced,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           strpos(c_name, 'm') AS m_pos
    FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#46 string family: upper/lower/trim/substr/length/concat/split/
    replace/lpad/instr."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.lower("c_mktsegment").alias("lseg"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.length("c_name").alias("name_len"),
        F.concat(F.col("c_name"), F.lit("-"), F.col("c_mktsegment")).alias("joined"),
        F.split(F.col("c_name"), "#").getItem(1).alias("after_hash"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("replaced"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.instr(F.col("c_name"), "m").alias("m_pos"),
    )


@query(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dy,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_95,
           o_orderdate + INTERVAL 3 MONTH AS plus3m,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           CAST(dayofweek(o_orderdate) AS INT) AS dow
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#47 date/time family on timestamp_ntz (§1.3 gotcha: literals must
    be cast, never bare strings)."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dy"),
        F.quarter(d).alias("qtr"),
        F.date_trunc("month", d).alias("month_start"),
        F.datediff(d, F.lit("1995-01-01").cast("timestamp_ntz")).alias("days_since_95"),
        (d + F.expr("INTERVAL 3 MONTHS")).alias("plus3m"),
        F.last_day(d).cast("timestamp_ntz").alias("month_end"),
        (F.dayofweek(d) - F.lit(1)).alias("dow"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(o_totalprice) AS BIGINT) AS fl,
           CAST(ceil(o_totalprice) AS BIGINT) AS ce,
           abs(o_totalprice - 150000.0) AS dist,
           CAST(sign(o_totalprice - 150000.0) AS DOUBLE) AS sgn,
           round(sqrt(o_totalprice), 6) AS sq,
           round(ln(o_totalprice), 6) AS lg,
           round(log10(o_totalprice), 6) AS lg10,
           round(pow(1 + o_totalprice / 1000000, 3), 6) AS powed,
           o_orderkey % 7 AS m7
    FROM orders
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#48 math family. Irrational outputs rounded to 6 dp (libm last-bit
    differences); floor/ceil/abs/sign/mod are exact."""
    o = table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.floor(p).alias("fl"),
        F.ceil(p).alias("ce"),
        F.abs(p - 150000.0).alias("dist"),
        F.signum(p - 150000.0).alias("sgn"),
        F.round(F.sqrt(p), 6).alias("sq"),
        F.round(F.log(p), 6).alias("lg"),
        F.round(F.log10(p), 6).alias("lg10"),
        F.round(F.pow(F.lit(1) + p / 1000000, 3), 6).alias("powed"),
        (F.col("o_orderkey") % 7).alias("m7"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT e.vec_id,
           len(e.embedding) AS n_dims,
           t.i AS pos,
           CAST(e.embedding[t.i + 1] AS DOUBLE) AS val,
           CAST(e.embedding[1] AS DOUBLE) AS first_val
    FROM embeddings e, range(3) t(i)
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#49 array family: size / slice / posexplode / element access on
    the embedding vector column (float32 → double is exact)."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            F.col("embedding").getItem(0).cast("double").alias("first_val"),
            F.posexplode(F.slice("embedding", 1, 3)).alias("pos", "raw_val"),
        )
        .withColumn("val", F.col("raw_val").cast("double"))
        .drop("raw_val")
    )


@query(
    "fn_map_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_via_map,
           json_keys(props)[1] AS first_key
    FROM events
    """,
)
def fn_map_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#50 JSON-string parsing: get_json_object + from_json to a typed
    map (events.props has verified shape {"k": <int>})."""
    ev = table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
        parsed.getItem("k").alias("k_via_map"),
        F.map_keys(parsed).getItem(0).alias("first_key"),
    )


@query(
    "fn_json_build",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(user_id := user_id, event_type := event_type)) AS payload
    FROM events
    """,
)
def fn_json_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#51 struct → JSON serialization (both engines emit compact
    key-order-preserving JSON — verified equal, so fully oracle-checked)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_json(F.struct(F.col("user_id"), F.col("event_type"))).alias("payload"),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT o_orderstatus,
           bit_and(o_orderkey) AS band,
           bit_or(o_orderkey) AS bor,
           bit_xor(o_orderkey) AS bxor,
           CAST(SUM(CASE WHEN o_orderkey & 1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd,
           CAST(MAX(o_orderkey >> 8) AS BIGINT) AS max_shifted
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#48b bitwise family: &, >>, and the bit_and/or/xor aggregates
    (exact integer ops — trivially engine-identical)."""
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.bit_and(k).alias("band"),
        F.bit_or(k).alias("bor"),
        F.bit_xor(k).alias("bxor"),
        F.sum(F.when(k.bitwiseAND(1) == 1, 1).otherwise(0)).cast("bigint").alias("n_odd"),
        F.max(F.shiftright(k, 8)).alias("max_shifted"),
    )


@query(
    "fn_regex",
    oracle=r"""
    SELECT doc_id,
           regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
           regexp_replace(text, '[0-9]+', '#', 'g') AS masked,
           regexp_matches(text, '[.!?]$') AS ends_sentence,
           CAST(len(regexp_extract_all(lower(text), '[aeiou]{2}')) AS INT) AS n_vowel_pairs
    FROM documents
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#46b regexp family: extract / extract-all-count / replace /
    match-test over document text. Patterns stay in the ASCII subset
    where Java regex (Spark) and RE2-ish (DuckDB) agree; regexp_replace
    is global in both engines (DuckDB needs the explicit 'g' flag).
    All JVM codegen — the scan's map stage, no shuffle."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"([A-Za-z]+)", 1).alias("first_word"),
        F.size(F.expr(r"regexp_extract_all(text, '[0-9]+', 0)")).alias("n_numbers"),
        F.regexp_replace(F.col("text"), r"[0-9]+", "#").alias("masked"),
        # \z, not $: Java's $ also matches just before a FINAL line
        # terminator while DuckDB's RE2 $ matches only at end of string —
        # \z is end-of-input in Java, same as RE2's $ here, so a document
        # ending in a newline hashes identically in both engines
        F.col("text").rlike(r"[.!?]\z").alias("ends_sentence"),
        F.size(F.expr(r"regexp_extract_all(lower(text), '[aeiou]{2}', 0)")).alias(
            "n_vowel_pairs"
        ),
    )


@query(
    "fn_nested_struct_ops",
    oracle=f"""
    WITH packed AS (
      SELECT l_orderkey,
             list(struct_pack(
                    ln := l_linenumber,
                    qty := CAST(l_quantity AS BIGINT),
                    pc := {_LCENTS})
                  ORDER BY l_linenumber, CAST(l_quantity AS BIGINT),
                           {_LCENTS})
               AS lines
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(lines) AS n_lines,
           lines[1].qty AS first_line_qty,
           CAST(len(list_filter(lines, s -> s.qty > 25)) AS BIGINT)
             AS n_big_lines,
           CAST(list_sum(list_transform(lines, s -> s.pc)) AS BIGINT)
             AS total_cents
    FROM packed
    """,
)
def fn_nested_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested array-of-struct processing — the higher-order-function
    tier above #49's flat arrays: pack each order's lines into a SORTED
    array<struct>, then operate on it without exploding (field access
    into element 1, lambda filter on a struct field, transform+fold
    aggregation) — the shape nested/denormalized lake schemas
    (order-with-lines documents) are actually queried in.

    Determinism: sort_array orders structs lexicographically by ALL
    fields, and the fixtures' line numbers are NOT unique per order, so
    the oracle's ORDER BY lists every struct field in declaration
    order — ties resolved by law, not insertion order; quantities and cents are exact BIGINTs, so the fold is
    integer arithmetic. Scale: one shuffle to pack (the groupBy);
    every nested op after it is map-side codegen over the packed rows —
    this is the "nest once, query many" pattern that saves re-shuffles
    when several per-order computations share the packed array."""
    li = table(spark, sf_dir, "lineitem")
    line = F.struct(
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.expr(_LCENTS).alias("pc"),
    )
    packed = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(line)).alias("lines")
    )
    return packed.select(
        "l_orderkey",
        F.size("lines").alias("n_lines"),
        F.col("lines")[0]["qty"].alias("first_line_qty"),
        F.size(
            F.filter("lines", lambda s: s["qty"] > 25)
        )
        .cast("bigint")
        .alias("n_big_lines"),
        F.aggregate(
            F.transform("lines", lambda s: s["pc"]),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_cents"),
    )
