"""Driver-contract query registry: one entry per implemented operator
from SURVEY.md §2, each with a DuckDB oracle (ANSI SQL over the same
parquet) unless genuinely non-SQL-expressible (then oracle=None →
rows-only check).

Design rules for oracle parity (driver compares row-count + schema +
order-insensitive value-hash):
- every computed column aliased IDENTICALLY in Spark and SQL;
- money/quantity sums go through DECIMAL(18,2) (exact) then cast to
  DOUBLE — float sums are order-dependent and would hash-mismatch;
- integer outputs cast to BIGINT on both sides;
- timestamps rendered as strings (or DATE) — engines' native
  timestamp hashing differs;
- synthesized dirty data uses modulo rules on key columns so the
  oracle can count expectations ARITHMETICALLY — an independent
  ground truth, not a re-implementation of our parser.

Each builder takes (spark, sf_dir) → DataFrame; ``QUERIES`` maps
name → builder, ``ORACLE_SQL`` maps name → SQL (or absent).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cacheutil import attach_persisted, get_persisted
from .extensions import dedup as xdedup
from .extensions import similarity as xsim
from .extensions import text as xtext
from .parsers import parse_field
from .schema import Field

# --------------------------------------------------------------------------
# helpers


def _utc(spark: SparkSession) -> None:
    """Session tuning safe to apply on a driver-provided session: UTC
    wall times (oracle parity) + full-width scans on small file sets."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import os

    spark.conf.set(
        "spark.sql.files.minPartitionNum", os.environ.get("SPARK_GRAFT_CPUS", "32")
    )


def t(spark: SparkSession, sf_dir: str, name: str, wide: bool = False) -> DataFrame:
    """Load a testdata table, normalizing ``events.ts`` to TIMESTAMP_NTZ.

    The driver has shipped ``events.parquet`` with different physical
    encodings of the same logical column across rounds — TIMESTAMP(NANOS)
    (readable only as long via the legacy conf, VERDICT r3) and plain
    timestamp[us]. A schema-on-read engine must tolerate all of them, so
    we read first and branch on the dtype Spark actually produced:

    - timestamp / timestamp_ntz  -> cast to timestamp_ntz (no-op or tz strip)
    - bigint (nanosAsLong path)  -> epoch-nanos -> timestamp_micros

    ``wide=True`` repartitions under-split files (single row group) to
    session width — worth one small shuffle only for compute-heavy
    consumers (hashing, parsing); single-pass aggregates are faster
    scanning 3 partitions than paying the shuffle, so they keep the
    default."""
    from .sources import ensure_parallelism

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type in ("bigint", "long"):
            df = df.withColumn(
                "ts",
                F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return ensure_parallelism(df) if wide else df


def dec2(c) -> F.Column:
    return c.cast("decimal(18,2)")


_BIG = "bigint"

# --------------------------------------------------------------------------
# registry

QUERIES: dict = {}
ORACLE_SQL: dict[str, str] = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _utc(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return wrapped

    return deco


# ===================== H: header / projection =============================


@q(
    "h2_projection",
    "SELECT DISTINCT o_orderstatus AS status FROM orders",
)
def _h2(spark, sf_dir):
    """H2 column projection + distinct (SURVEY.md §2.2)."""
    return t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status")
    ).distinct()


# ===================== P: type parsers ====================================


@q(
    "p7_p8_int_bool",
    "SELECT 'integer' AS variant, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(sum(l_orderkey) AS BIGINT) AS sum_parsed,"
    " CAST(NULL AS BIGINT) AS n_true, CAST(NULL AS BIGINT) AS n_false"
    " FROM lineitem"
    " UNION ALL"
    " SELECT 'boolean' AS variant, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(NULL AS BIGINT) AS sum_parsed,"
    " count(*) FILTER (WHERE l_returnflag = 'R') AS n_true,"
    " count(*) FILTER (WHERE l_returnflag <> 'R') AS n_false"
    " FROM lineitem",
)
def _p7_p8(spark, sf_dir):
    """P7 integer + P8 boolean in one labeled query (50-entry registry
    cap — merged r5 to make room for the x7 split/packing operators).
    'integer' parses stringified keys, oracle sums the original typed
    column; 'boolean' parses trueValues/falseValues lexicals built
    from l_returnflag. Out-of-variant columns are typed NULLs."""
    li = t(spark, sf_dir, "lineitem")
    nul = F.lit(None).cast(_BIG)

    pf_i = parse_field(
        F.col("l_orderkey").cast("string"), Field("v", type="integer")
    )
    integer = li.select(pf_i.parsed.alias("p"), pf_i.bad.alias("b")).agg(
        F.lit("integer").alias("variant"),
        F.count_if(F.col("b")).alias("n_bad"),
        F.sum("p").cast(_BIG).alias("sum_parsed"),
        nul.alias("n_true"),
        nul.alias("n_false"),
    )

    raw = (
        F.when(F.col("l_returnflag") == "R", F.lit("TRUE"))
        .when(F.col("l_returnflag") == "A", F.lit("false"))
        .otherwise(F.lit("0"))
    )
    pf_b = parse_field(raw, Field("v", type="boolean"))
    boolean = li.select(pf_b.parsed.alias("p"), pf_b.bad.alias("b")).agg(
        F.lit("boolean").alias("variant"),
        F.count_if(F.col("b")).alias("n_bad"),
        nul.alias("sum_parsed"),
        F.count_if(F.col("p") == True).cast(_BIG).alias("n_true"),  # noqa: E712
        F.count_if(F.col("p") == False).cast(_BIG).alias("n_false"),  # noqa: E712
    )
    return integer.unionByName(boolean)


@q(
    "p6_parse_number",
    "SELECT 'default' AS variant, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_parsed"
    " FROM lineitem"
    " UNION ALL"
    " SELECT 'options' AS variant, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_parsed"
    " FROM lineitem",
)
def _p6(spark, sf_dir):
    """P6 number parse, two variants in one query (the driver caps
    CORRECTNESS at 50 entries — fine-grained twins share a row):
    'default' parses the plain lexical; 'options' parses
    decimalChar=',' + bareNumber=false lexicals like '€57151,66'
    built from the typed column. Both must recover the same sum."""
    # wide=True: the parse projection is the cost here, and the sf
    # parquet is a single row group (serial decode) — one cheap
    # round-robin shuffle of the raw column unlocks every core for
    # the regex/cast work (no-op at real scale; see t()).
    li = t(spark, sf_dir, "lineitem", wide=True)

    # r11 (guide §2.4): one lineitem scan, not two — both variants
    # parse renditions of the same column, so they share a projection
    # and ONE partial/final aggregate pair; the 1-row wide aggregate
    # reshapes into the same two labeled rows (values identical).
    pf_a = parse_field(
        F.col("l_extendedprice").cast("string"), Field("v", type="number")
    )
    raw = F.concat(
        F.lit("€"),
        F.replace(F.col("l_extendedprice").cast("string"), F.lit("."), F.lit(",")),
    )
    pf_b = parse_field(
        raw, Field("v", type="number", decimal_char=",", bare_number=False)
    )
    return (
        li.select(
            pf_a.parsed.alias("p_a"), pf_a.bad.alias("b_a"),
            pf_b.parsed.alias("p_b"), pf_b.bad.alias("b_b"),
        )
        .agg(
            F.count_if(F.col("b_a")).alias("nb_a"),
            F.sum(dec2(F.col("p_a"))).cast("double").alias("sum_a"),
            F.count_if(F.col("b_b")).alias("nb_b"),
            F.sum(dec2(F.col("p_b"))).cast("double").alias("sum_b"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("default").alias("variant"),
                        F.col("nb_a").alias("n_bad"),
                        F.col("sum_a").alias("sum_parsed"),
                    ),
                    F.struct(
                        F.lit("options").alias("variant"),
                        F.col("nb_b").alias("n_bad"),
                        F.col("sum_b").alias("sum_parsed"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
    )


@q(
    "p9_p13_temporal_parse",
    "SELECT 'iso' AS variant, CAST(NULL AS BIGINT) AS sum_secs,"
    " count(*) FILTER (WHERE FALSE) AS n_bad,"
    " strftime(min(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_ts,"
    " strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_ts,"
    " CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT) AS n"
    " FROM lineitem"
    " UNION ALL"
    " SELECT 'pattern' AS variant, CAST(NULL AS BIGINT) AS sum_secs,"
    " count(*) FILTER (WHERE FALSE) AS n_bad,"
    " strftime(min(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS min_ts,"
    " strftime(max(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS max_ts,"
    " CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT) AS n"
    " FROM lineitem"
    " UNION ALL"
    " SELECT 'time' AS variant,"
    " CAST(sum(EXTRACT(hour FROM ts) * 3600 + EXTRACT(minute FROM ts)"
    " * 60 + FLOOR(EXTRACT(second FROM ts))) AS BIGINT) AS sum_secs,"
    " count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(NULL AS VARCHAR) AS min_ts, CAST(NULL AS VARCHAR) AS max_ts,"
    " CAST(NULL AS BIGINT) AS n FROM events"
    " UNION ALL"
    " SELECT 'datetime' AS variant, CAST(NULL AS BIGINT) AS sum_secs,"
    " CAST(NULL AS BIGINT) AS n_bad,"
    " strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_ts,"
    " strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_ts,"
    " CAST(count(o_orderdate) AS BIGINT) AS n FROM orders",
)
def _p9_p13(spark, sf_dir):
    """P9 default ISO date + P10 pattern date + P12 time + P13
    datetime in ONE labeled query (r9: the pre-declared COVERAGE.md
    merge #2 of p9_p10_parse_date + p12_p13_time_datetime — four
    temporal parsers over the same rendition populations; every
    original measure preserved per row kind; slot funds
    x7_token_budget under the 50-row driver cap).

    - 'iso': P9 strict ISO yyyy-MM-dd over lineitem ship dates.
    - 'pattern': P10 dd/MM/yyyy via the strptime→Spark translator
      (patterns.py) — must recover the same date stats as 'iso'.
    - 'time': P12 HH:mm:ss lexicals into secs-of-day over events.
    - 'datetime': P13 ISO 'T' timestamps over orders.

    Out-of-variant columns are typed NULLs; date min/max render as
    ISO strings so all four kinds share one schema."""
    # wide=True (r11): date-parse projection over a single-row-group
    # parquet — repartition first so try_to_timestamp runs full-width
    li = t(spark, sf_dir, "lineitem", wide=True)
    nul = F.lit(None).cast(_BIG)
    nus = F.lit(None).cast("string")

    # r11 (guide §2.4): 'iso' and 'pattern' both parse renditions of
    # l_shipdate — ONE lineitem scan + one aggregate pair instead of
    # two, reshaped into the same two labeled rows (values identical).
    pf_i = parse_field(
        F.date_format("l_shipdate", "yyyy-MM-dd"),
        Field("v", type="date"),
    )
    pf_p = parse_field(
        F.date_format("l_shipdate", "dd/MM/yyyy"),
        Field("v", type="date", format="%d/%m/%Y"),
    )
    # two-level aggregate (same reason as p14_p18): a flat aggregate
    # with two count_distincts plans an Expand×3 of the whole scan;
    # grouping by the parsed dates first (both renditions parse the
    # SAME underlying date, so the key space is the few thousand
    # distinct ship dates) keeps the partial aggregation map-side and
    # the distinct counts land on the tiny grouped frame.
    dates = (
        li.select(
            pf_i.parsed.alias("p_i"), pf_i.bad.alias("b_i"),
            pf_p.parsed.alias("p_p"), pf_p.bad.alias("b_p"),
        )
        .groupBy("p_i", "p_p")
        .agg(
            F.count_if(F.col("b_i")).alias("pnb_i"),
            F.count_if(F.col("b_p")).alias("pnb_p"),
        )
        .agg(
            # coalesce: the pre-fusion flat count_if yielded 0 on an
            # empty table where sum-of-partials yields NULL (ADVICE r11)
            F.coalesce(F.sum("pnb_i"), F.lit(0)).alias("nb_i"),
            F.date_format(F.min("p_i"), "yyyy-MM-dd").alias("min_i"),
            F.date_format(F.max("p_i"), "yyyy-MM-dd").alias("max_i"),
            F.count_distinct("p_i").cast(_BIG).alias("cd_i"),
            F.coalesce(F.sum("pnb_p"), F.lit(0)).alias("nb_p"),
            F.date_format(F.min("p_p"), "yyyy-MM-dd").alias("min_p"),
            F.date_format(F.max("p_p"), "yyyy-MM-dd").alias("max_p"),
            F.count_distinct("p_p").cast(_BIG).alias("cd_p"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("iso").alias("variant"),
                        nul.alias("sum_secs"),
                        F.col("nb_i").alias("n_bad"),
                        F.col("min_i").alias("min_ts"),
                        F.col("max_i").alias("max_ts"),
                        F.col("cd_i").alias("n"),
                    ),
                    F.struct(
                        F.lit("pattern").alias("variant"),
                        nul.alias("sum_secs"),
                        F.col("nb_p").alias("n_bad"),
                        F.col("min_p").alias("min_ts"),
                        F.col("max_p").alias("max_ts"),
                        F.col("cd_p").alias("n"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
    )

    ev = t(spark, sf_dir, "events", wide=True)
    pf_t = parse_field(
        F.date_format("ts", "HH:mm:ss"), Field("v", type="time")
    )
    time_row = ev.select(pf_t.parsed.alias("p"), pf_t.bad.alias("b")).agg(
        F.lit("time").alias("variant"),
        F.sum("p").cast(_BIG).alias("sum_secs"),
        F.count_if(F.col("b")).alias("n_bad"),
        nus.alias("min_ts"),
        nus.alias("max_ts"),
        nul.alias("n"),
    )

    o = t(spark, sf_dir, "orders", wide=True)
    pf_d = parse_field(
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"),
        Field("v", type="datetime"),
    )
    dt_row = o.select(pf_d.parsed.alias("p")).agg(
        F.lit("datetime").alias("variant"),
        nul.alias("sum_secs"),
        nul.alias("n_bad"),
        F.date_format(F.min("p"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("p"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.count("p").cast(_BIG).alias("n"),
    )
    return dates.unionByName(time_row).unionByName(dt_row)


@q(
    "p11_parse_date_any",
    "SELECT min(CAST(strptime(strftime(o_orderdate, '%B %d, %Y'),"
    " '%B %d, %Y') AS DATE)) AS min_d,"
    " max(CAST(strptime(strftime(o_orderdate, '%B %d, %Y'),"
    " '%B %d, %Y') AS DATE)) AS max_d FROM orders",
)
def _p11(spark, sf_dir):
    """P11 format='any' — the one pandas-UDF parser (dateutil)."""
    o = t(spark, sf_dir, "orders", wide=True)
    raw = F.date_format("o_orderdate", "MMMM dd, yyyy")
    pf = parse_field(raw, Field("v", type="date", format="any"))
    return o.select(pf.parsed.alias("p")).agg(
        F.min("p").alias("min_d"), F.max("p").alias("max_d")
    )


@q(
    "p14_p18_parsers",
    "SELECT 'object' AS kind, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(count(*) AS BIGINT) AS v1,"
    " CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)"
    " AS v2, CAST(NULL AS BIGINT) AS v3 FROM events"
    " UNION ALL"
    " SELECT 'array' AS kind, count(*) FILTER (WHERE event_id % 7 = 0)"
    " AS n_bad, count(*) FILTER (WHERE event_id % 7 <> 0) AS v1,"
    " CAST(count(*) FILTER (WHERE event_id % 7 <> 0) * 2 AS BIGINT) AS v2,"
    " CAST(NULL AS BIGINT) AS v3 FROM events"
    " UNION ALL"
    " SELECT 'year' AS kind, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(min(year(l_shipdate)) AS BIGINT) AS v1,"
    " CAST(max(year(l_shipdate)) AS BIGINT) AS v2,"
    " CAST(count(DISTINCT year(l_shipdate)) AS BIGINT) AS v3"
    " FROM lineitem"
    " UNION ALL"
    " SELECT 'yearmonth' AS kind, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(min(year(l_shipdate) * 100 + month(l_shipdate)) AS BIGINT) AS v1,"
    " CAST(max(year(l_shipdate) * 100 + month(l_shipdate)) AS BIGINT) AS v2,"
    " CAST(count(DISTINCT year(l_shipdate) * 100 + month(l_shipdate))"
    " AS BIGINT) AS v3 FROM lineitem"
    " UNION ALL"
    " SELECT 'duration' AS kind, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(sum((l_partkey % 5) * 12) AS BIGINT) AS v1,"
    " CAST(sum(l_linenumber * 86400 + (l_suppkey % 24) * 3600) AS BIGINT)"
    " AS v2, CAST(0 AS BIGINT) AS v3 FROM lineitem",
)
def _p14_p18(spark, sf_dir):
    """P14 object + P15 array + P16 year + P17 yearmonth + P18
    duration parsers as one labeled-row parse audit (r11 — the
    COVERAGE.md next-candidate merge of p14_p15_json +
    p16_p18_temporal, funding the x9_migrate slot; every former
    measure survives as a labeled row). Unified columns: ``n_bad`` =
    parse failures under the row's rule, ``v1/v2/v3`` carry the
    kind's own measures —

    - 'object' (events.props): v1 = valid count, v2 = sum of $.k.
    - 'array' (synthesized lexicals, event_id%7==0 malformed):
      n_bad = malformed, v1 = valid, v2 = total parsed length.
    - 'year' / 'yearmonth' (lineitem.l_shipdate lexicals): v1/v2 =
      min/max (yearmonth as year*100+month), v3 = distinct count —
      pins the struct<year,month> parse.
    - 'duration' (ISO-8601 lexicals from modulo rules): v1 = summed
      months, v2 = summed seconds, v3 = 0."""
    # wide=True (r11): both arms are parse-bound (try_parse_json /
    # regex-heavy duration+yearmonth) over single-row-group parquet —
    # repartition first so the parse projections run full-width
    ev = t(spark, sf_dir, "events", wide=True)
    li = t(spark, sf_dir, "lineitem", wide=True)

    # r11 (guide §2.3/§2.4): the five arms were five separate
    # scan+aggregate pipelines — events decoded twice, lineitem THREE
    # times, 5 partial/final exchange pairs (14 Exchanges total).
    # Each table is now scanned ONCE with every arm's parse expression
    # in one projection (per-row parse work is unchanged — the arms
    # parse disjoint renditions), aggregated once, and the 1-row wide
    # aggregate is reshaped into the same labeled rows with an
    # explode. Values and schema identical; only the plan shape moved.
    pf_o = parse_field(F.col("props"), Field("v", type="object"))
    k = F.get_json_object(F.col("props"), "$.k").try_cast(_BIG)
    raw = F.when(
        F.col("event_id") % 7 != 0,
        F.concat(
            F.lit("["),
            (F.col("event_id") % 100).cast("string"),
            F.lit(", "),
            (F.col("user_id") % 50).cast("string"),
            F.lit("]"),
        ),
    ).otherwise(F.lit("[broken"))
    pf_a = parse_field(raw, Field("v", type="array"))
    ln = F.json_array_length(pf_a.parsed)
    nul = F.lit(None).cast(_BIG)
    ev_rows = (
        ev.select(
            pf_o.parsed.alias("p_o"), pf_o.bad.alias("b_o"), k.alias("k"),
            pf_a.parsed.alias("p_a"), pf_a.bad.alias("b_a"), ln.alias("ln"),
        )
        .agg(
            F.count_if(F.col("b_o")).alias("nb_o"),
            F.count("p_o").cast(_BIG).alias("v1_o"),
            F.sum("k").cast(_BIG).alias("v2_o"),
            F.count_if(F.col("b_a")).alias("nb_a"),
            F.count("p_a").cast(_BIG).alias("v1_a"),
            F.sum("ln").cast(_BIG).alias("v2_a"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("object").alias("kind"),
                        F.col("nb_o").alias("n_bad"),
                        F.col("v1_o").alias("v1"),
                        F.col("v2_o").alias("v2"),
                        nul.alias("v3"),
                    ),
                    F.struct(
                        F.lit("array").alias("kind"),
                        F.col("nb_a").alias("n_bad"),
                        F.col("v1_a").alias("v1"),
                        F.col("v2_a").alias("v2"),
                        nul.alias("v3"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
    )

    pf_y = parse_field(
        F.date_format("l_shipdate", "yyyy"), Field("v", type="year")
    )
    pf_ym = parse_field(
        F.date_format("l_shipdate", "yyyy-MM"), Field("v", type="yearmonth")
    )
    code = (
        pf_ym.parsed.getField("year") * 100 + pf_ym.parsed.getField("month")
    ).cast(_BIG)
    raw_dur = F.concat(
        F.lit("P"),
        (F.col("l_partkey") % 5).cast("string"),
        F.lit("Y"),
        F.col("l_linenumber").cast("string"),
        F.lit("DT"),
        (F.col("l_suppkey") % 24).cast("string"),
        F.lit("H"),
    )
    pf_d = parse_field(raw_dur, Field("v", type="duration"))
    # two count_distincts in ONE flat aggregate would plan an
    # Expand×3 of every scanned row (measured: 11.9 s vs the 8.0 s
    # unfused shape — worse). Instead aggregate in two levels: group
    # by the parsed values themselves (year is a function of
    # yearmonth, so the key space is the ~tens of distinct months —
    # map-side partial aggregation collapses the scan to that), then
    # a global aggregate over those few rows takes the distinct
    # counts for free and merges the decomposable measures (counts,
    # min/max, and the duration sums — integer-valued doubles < 2^53,
    # so partial-sum merge order cannot change the value).
    li_rows = (
        li.select(
            pf_y.parsed.alias("p_y"), pf_y.bad.alias("b_y"),
            code.alias("c"), pf_ym.bad.alias("b_ym"),
            pf_d.parsed.alias("p_d"), pf_d.bad.alias("b_d"),
        )
        .groupBy("p_y", "c")
        .agg(
            F.count_if(F.col("b_y")).alias("pnb_y"),
            F.count_if(F.col("b_ym")).alias("pnb_ym"),
            F.count_if(F.col("b_d")).alias("pnb_d"),
            F.sum("p_d.months").alias("psum_m"),
            F.sum("p_d.seconds").alias("psum_s"),
        )
        .agg(
            # coalesce: empty-table parity with the pre-fusion
            # flat count_if (ADVICE r11)
            F.coalesce(F.sum("pnb_y"), F.lit(0)).alias("nb_y"),
            F.min("p_y").cast(_BIG).alias("min_y"),
            F.max("p_y").cast(_BIG).alias("max_y"),
            F.count_distinct("p_y").cast(_BIG).alias("cd_y"),
            F.coalesce(F.sum("pnb_ym"), F.lit(0)).alias("nb_ym"),
            F.min("c").alias("min_c"),
            F.max("c").alias("max_c"),
            F.count_distinct("c").alias("cd_c"),
            F.coalesce(F.sum("pnb_d"), F.lit(0)).alias("nb_d"),
            F.sum("psum_m").cast(_BIG).alias("sum_m"),
            F.sum("psum_s").cast(_BIG).alias("sum_s"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("year").alias("kind"),
                        F.col("nb_y").alias("n_bad"),
                        F.col("min_y").alias("v1"),
                        F.col("max_y").alias("v2"),
                        F.col("cd_y").alias("v3"),
                    ),
                    F.struct(
                        F.lit("yearmonth").alias("kind"),
                        F.col("nb_ym").alias("n_bad"),
                        F.col("min_c").alias("v1"),
                        F.col("max_c").alias("v2"),
                        F.col("cd_c").alias("v3"),
                    ),
                    F.struct(
                        F.lit("duration").alias("kind"),
                        F.col("nb_d").alias("n_bad"),
                        F.col("sum_m").alias("v1"),
                        F.col("sum_s").alias("v2"),
                        F.lit(0).cast(_BIG).alias("v3"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
    )
    return ev_rows.unionByName(li_rows)


@q(
    "p19_p20_geo",
    "SELECT 'geopoint' AS variant,"
    " CAST(sum((p_partkey % 360) - 180) AS BIGINT) AS sum_lon,"
    " CAST(sum((p_size % 90) - 45) AS BIGINT) AS sum_lat,"
    " CAST(count(*) AS BIGINT) AS n_valid,"
    " count(*) FILTER (WHERE FALSE) AS n_bad FROM part"
    " UNION ALL"
    " SELECT 'geojson' AS variant, CAST(NULL AS BIGINT) AS sum_lon,"
    " CAST(NULL AS BIGINT) AS sum_lat,"
    " count(*) FILTER (WHERE p_partkey % 9 <> 0) AS n_valid,"
    " count(*) FILTER (WHERE p_partkey % 9 = 0) AS n_bad FROM part",
)
def _p19_p20(spark, sf_dir):
    """P19 geopoint + P20 geojson in one labeled query (50-entry
    registry cap — merged r5 to make room for x4_boilerplate).
    'geopoint' parses 'lon, lat' lexicals into struct<lon,lat> and
    sums both components; 'geojson' validates JSON + GeoJSON type
    member with a modulo-synthesized invalid share. Out-of-variant
    columns are typed NULLs."""
    p = t(spark, sf_dir, "part")
    nul = F.lit(None).cast(_BIG)

    raw_gp = F.concat(
        ((F.col("p_partkey") % 360) - 180).cast("string"),
        F.lit(", "),
        ((F.col("p_size") % 90) - 45).cast("string"),
    )
    pf_gp = parse_field(raw_gp, Field("v", type="geopoint"))
    gp = p.select(pf_gp.parsed.alias("g"), pf_gp.bad.alias("b")).agg(
        F.lit("geopoint").alias("variant"),
        F.sum("g.lon").cast(_BIG).alias("sum_lon"),
        F.sum("g.lat").cast(_BIG).alias("sum_lat"),
        F.count("g").cast(_BIG).alias("n_valid"),
        F.count_if(F.col("b")).alias("n_bad"),
    )

    raw_gj = F.when(
        F.col("p_partkey") % 9 != 0,
        F.concat(
            F.lit('{"type": "Point", "coordinates": ['),
            (F.col("p_partkey") % 180).cast("string"),
            F.lit(", 10]}"),
        ),
    ).otherwise(F.lit('{"type": "Nope"}'))
    pf_gj = parse_field(raw_gj, Field("v", type="geojson"))
    gj = p.select(pf_gj.parsed.alias("p"), pf_gj.bad.alias("b")).agg(
        F.lit("geojson").alias("variant"),
        nul.alias("sum_lon"),
        nul.alias("sum_lat"),
        F.count("p").cast(_BIG).alias("n_valid"),
        F.count_if(F.col("b")).alias("n_bad"),
    )
    return gp.unionByName(gj)


@q(
    "p2_p5_string_formats",
    "SELECT 'email' AS fmt, count(*) FILTER (WHERE c_custkey % 10 <> 0)"
    " AS n_valid, count(*) FILTER (WHERE c_custkey % 10 = 0) AS n_invalid"
    " FROM customer"
    " UNION ALL"
    " SELECT 'uri' AS fmt, count(*) FILTER (WHERE s_suppkey % 4 <> 0)"
    " AS n_valid, count(*) FILTER (WHERE s_suppkey % 4 = 0) AS n_invalid"
    " FROM supplier"
    " UNION ALL"
    " SELECT 'uuid' AS fmt, count(*) FILTER (WHERE c_custkey % 5 <> 0)"
    " AS n_valid, count(*) FILTER (WHERE c_custkey % 5 = 0) AS n_invalid"
    " FROM customer"
    " UNION ALL"
    " SELECT 'binary' AS fmt, count(*) FILTER (WHERE n_nationkey % 3 <> 0)"
    " AS n_valid, count(*) FILTER (WHERE n_nationkey % 3 = 0) AS n_invalid"
    " FROM nation",
)
def _p2_p5(spark, sf_dir):
    """P2 email + P3 uri + P4 uuid + P5 binary string-format parsers
    in one query (50-entry registry cap), one labeled row per format.
    Lexicals are synthesized with modulo validity rules so the oracle
    counts expectations arithmetically; uuids come from md5 (identical
    function both engines)."""

    def _count(df, raw, fld, fmt):
        pf = parse_field(raw, fld)
        return df.select(pf.parsed.alias("p"), pf.bad.alias("b")).agg(
            F.lit(fmt).alias("fmt"),
            F.count("p").cast(_BIG).alias("n_valid"),
            F.count_if(F.col("b")).alias("n_invalid"),
        )

    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")

    email_raw = F.when(
        F.col("c_custkey") % 10 != 0,
        F.concat(
            F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
            F.lit("@example.com"),
        ),
    ).otherwise(F.concat(F.col("c_name"), F.lit("@@bad")))

    uri_raw = F.when(
        F.col("s_suppkey") % 4 != 0,
        F.concat(
            F.lit("https://example.com/supplier/"), F.col("s_suppkey").cast("string")
        ),
    ).otherwise(F.lit("not a uri"))

    h = F.md5(F.col("c_name"))
    uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    uuid_raw = F.when(F.col("c_custkey") % 5 != 0, uuid).otherwise(
        F.lit("not-a-uuid")
    )

    bin_raw = F.when(
        F.col("n_nationkey") % 3 != 0,
        F.base64(F.col("n_name").cast("binary")),
    ).otherwise(F.lit("!!notbase64"))

    return (
        _count(c, email_raw, Field("v", format="email"), "email")
        .unionByName(_count(s, uri_raw, Field("v", format="uri"), "uri"))
        .unionByName(_count(c, uuid_raw, Field("v", format="uuid"), "uuid"))
        .unionByName(_count(n, bin_raw, Field("v", format="binary"), "binary"))
    )


# ===================== C: constraints =====================================


@q(
    "c2_w1_dups",
    "SELECT 'c2' AS kind, CAST(l_orderkey AS BIGINT) AS orderkey,"
    " count(*) AS n"
    " FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1"
    " UNION ALL"
    " SELECT 'w1' AS kind, CAST(l_orderkey AS BIGINT) AS orderkey,"
    " CAST(count(*) - 1 AS BIGINT) AS n FROM lineitem"
    " GROUP BY l_orderkey HAVING count(*) > 1",
)
def _c2_w1(spark, sf_dir):
    """C2 unique-violation counting (groupBy kernel) + W1 duplicate
    row numbering (ranking-window kernel) in one labeled query
    (50-entry registry cap — merged r5 to make room for x7_temporal).
    Same dup population, two deliberately different physical
    implementations, both oracle-checked: 'c2' rows carry the dup
    count, 'w1' rows the extra-occurrence count derived from
    row_number."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    c2 = (
        li.groupBy(F.col("l_orderkey").cast(_BIG).alias("orderkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select(F.lit("c2").alias("kind"), "orderkey", "n")
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    w1 = (
        li.withColumn("rn", F.row_number().over(w))
        .groupBy(F.col("l_orderkey").cast(_BIG).alias("orderkey"))
        .agg((F.max("rn") - 1).cast(_BIG).alias("n"))
        .where(F.col("n") > 0)
        .select(F.lit("w1").alias("kind"), "orderkey", "n")
    )
    return c2.unionByName(w1)


@q(
    "c1_c6_constraints",
    "SELECT 'required' AS chk, 'o_custkey' AS label,"
    " count(*) FILTER (WHERE o_orderkey % 13 = 0) AS a,"
    " CAST(0 AS BIGINT) AS b,"
    " CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi"
    " FROM orders"
    " UNION ALL"
    " SELECT 'length', 'p_name',"
    " count(*) FILTER (WHERE length(p_name) < 10),"
    " count(*) FILTER (WHERE length(p_name) > 30),"
    " CAST(min(length(p_name)) AS DOUBLE),"
    " CAST(max(length(p_name)) AS DOUBLE) FROM part"
    " UNION ALL"
    " SELECT 'range', 'l_discount',"
    " count(*) FILTER (WHERE l_discount < 0.0),"
    " count(*) FILTER (WHERE l_discount > 0.05),"
    " min(l_discount), max(l_discount) FROM lineitem"
    " UNION ALL"
    " SELECT 'enum', o_orderstatus, CAST(count(*) AS BIGINT),"
    " CAST(o_orderstatus IN ('F','P','O') AS BIGINT),"
    " CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
    " FROM orders GROUP BY o_orderstatus"
    " UNION ALL"
    " SELECT 'pattern', 'match',"
    " count(*) FILTER (WHERE regexp_matches(p_brand, '^(?:Brand#[0-9]+)$')),"
    " CAST(1 AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
    " FROM part"
    " UNION ALL"
    " SELECT 'pattern', 'violation',"
    " count(*) FILTER (WHERE NOT regexp_matches(p_brand,"
    " '^(?:Brand#[0-9]+)$')),"
    " CAST(0 AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
    " FROM part",
)
def _c1_c6(spark, sf_dir):
    """C1 required + C3 min/maxLength + C4 minimum/maximum + C5 enum
    + C6 pattern in one labeled query (r10 — the COVERAGE.md
    pre-declared merge of c1_c3_c4_constraints + c5_c6_enum_pattern;
    the freed slot funds x9_history). All five constraint kinds run
    through the compiled constraint masks validate uses; every former
    row survives as a labeled row:

    - 'required' (C1): rule-injected nulls in o_custkey.
    - 'length' (C3): p_name length bound violations + observed
      min/max length.
    - 'range' (C4): l_discount value bound violations + observed
      min/max.
    - 'enum' (C5): one row per o_orderstatus value, b = its
      in-vocabulary flag.
    - 'pattern' (C6): full-match vs violation counts of the
      fullmatch-anchored compiler on p_brand."""
    from .checks.constraints import compile_constraints

    o = t(spark, sf_dir, "orders")
    req_v = F.when(F.col("o_orderkey") % 13 != 0, F.col("o_custkey"))
    required = o.select(req_v.alias("v")).agg(
        F.lit("required").alias("chk"),
        F.lit("o_custkey").alias("label"),
        F.count_if(F.col("v").isNull()).alias("a"),
        F.lit(0).cast(_BIG).alias("b"),
        F.lit(None).cast("double").alias("lo"),
        F.lit(None).cast("double").alias("hi"),
    )

    p = t(spark, sf_dir, "part")
    fld_len = Field("p_name", constraints={"minLength": 10, "maxLength": 30})
    len_masks = {
        c.constraint: c.mask
        for c in compile_constraints(fld_len, F.col("p_name"), F.col("p_name"))
    }
    length = p.agg(
        F.lit("length").alias("chk"),
        F.lit("p_name").alias("label"),
        F.count_if(len_masks["minLength"]).alias("a"),
        F.count_if(len_masks["maxLength"]).alias("b"),
        F.min(F.length("p_name")).cast("double").alias("lo"),
        F.max(F.length("p_name")).cast("double").alias("hi"),
    )

    li = t(spark, sf_dir, "lineitem")
    fld_rng = Field("l_discount", type="number",
                    constraints={"minimum": 0.0, "maximum": 0.05})
    rng_masks = {
        c.constraint: c.mask
        for c in compile_constraints(fld_rng, F.col("l_discount"), None)
    }
    rng = li.agg(
        F.lit("range").alias("chk"),
        F.lit("l_discount").alias("label"),
        F.count_if(rng_masks["minimum"]).alias("a"),
        F.count_if(rng_masks["maximum"]).alias("b"),
        F.min("l_discount").alias("lo"),
        F.max("l_discount").alias("hi"),
    )

    enum_rows = o.groupBy(F.col("o_orderstatus").alias("label")).agg(
        F.lit("enum").alias("chk"),
        F.count(F.lit(1)).cast(_BIG).alias("a"),
        F.max(F.col("o_orderstatus").isin("F", "P", "O"))
        .cast(_BIG)
        .alias("b"),
        F.lit(None).cast("double").alias("lo"),
        F.lit(None).cast("double").alias("hi"),
    ).select("chk", "label", "a", "b", "lo", "hi")

    fld = Field("p_brand", constraints={"pattern": "Brand#[0-9]+"})
    (ck,) = compile_constraints(fld, F.col("p_brand"), F.col("p_brand"))
    counts = p.agg(
        F.count_if(~ck.mask).cast(_BIG).alias("n_match"),
        F.count_if(ck.mask).cast(_BIG).alias("n_violation"),
    )
    # one aggregate exploded into the two labeled rows — referencing
    # `counts` from two union branches would re-run the full part scan
    # per branch
    pat_rows = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("pattern").alias("chk"),
                    F.lit("match").alias("label"),
                    F.col("n_match").alias("a"),
                    F.lit(1).cast(_BIG).alias("b"),
                    F.lit(None).cast("double").alias("lo"),
                    F.lit(None).cast("double").alias("hi"),
                ),
                F.struct(
                    F.lit("pattern").alias("chk"),
                    F.lit("violation").alias("label"),
                    F.col("n_violation").alias("a"),
                    F.lit(0).cast(_BIG).alias("b"),
                    F.lit(None).cast("double").alias("lo"),
                    F.lit(None).cast("double").alias("hi"),
                ),
            )
        ).alias("r")
    ).select("r.chk", "r.label", "r.a", "r.b", "r.lo", "r.hi")
    return (
        required.unionByName(length)
        .unionByName(rng)
        .unionByName(enum_rows)
        .unionByName(pat_rows)
    )


# ===================== K: keys ============================================


@q(
    "k1_k2_keys",
    "SELECT 'pk_orders' AS key, CAST(count(*) AS BIGINT) AS n_rows,"
    " count(*) FILTER (WHERE o_orderkey IS NULL) AS n_null,"
    " CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_extra"
    " FROM orders"
    " UNION ALL"
    " SELECT 'uk_lineitem', CAST(count(*) AS BIGINT),"
    " count(*) FILTER (WHERE l_orderkey IS NULL"
    " OR l_linenumber IS NULL),"
    " CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))"
    " AS BIGINT) FROM lineitem",
)
def _k1_k2(spark, sf_dir):
    """K1 primary key + K2 unique keys in one labeled query (r10 —
    the COVERAGE.md pre-declared merge; the freed slot funds
    x7_curriculum): both are uniqueness-over-key checks through the
    fused null+dup kernel validate uses — 'pk_orders' runs
    check_primary_key on o_orderkey, 'uk_lineitem' runs
    check_unique_key on the composite (l_orderkey, l_linenumber);
    n_rows/n_null make each row self-describing against the oracle's
    direct recount."""
    from .checks.keys import check_primary_key, check_unique_key

    o = t(spark, sf_dir, "orders")
    pk = check_primary_key(o, ["o_orderkey"])
    li = t(spark, sf_dir, "lineitem")
    uk = check_unique_key(li, ["l_orderkey", "l_linenumber"])
    n_o = o.count()
    li_nulls = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(
            F.col("l_orderkey").isNull() | F.col("l_linenumber").isNull()
        ).alias("n_null"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            ("pk_orders", n_o, 0, pk.count),
            ("uk_lineitem", int(li_nulls["n"]), int(li_nulls["n_null"]),
             uk.count),
        ],
        "key string, n_rows bigint, n_null bigint, n_extra bigint",
    )


@q(
    "k3_fk_violations",
    "SELECT 'clean' AS fk, CAST(l_orderkey AS BIGINT) AS l_orderkey"
    " FROM lineitem WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN"
    " (SELECT o_orderkey FROM orders)"
    " UNION"
    " SELECT 'dirty' AS fk, CAST(l_orderkey AS BIGINT) AS l_orderkey"
    " FROM lineitem WHERE l_orderkey % 7 = 0",
)
def _k3b(spark, sf_dir):
    """K3 foreign keys, two checks in one query (50-entry registry
    cap): 'clean' runs the real lineitem→orders FK (testdata FKs hold,
    so it contributes 0 rows — any row here is a real defect); 'dirty'
    filters the parent to o_orderkey%7!=0, so every child key
    divisible by 7 is orphaned and the oracle counts by the rule.

    r5: both checks run through the single-pass multi-FK kernel
    (checks/keys.py::foreign_key_violations_multi) — ONE lineitem scan
    + one distinct, two broadcast probes, one explode. The r2-r4 shape
    unioned two independent anti-joins, and because a broadcast
    anti-join leaves no exchange on the child side, ReusedExchange
    couldn't dedupe them: the benched query paid two full child scans
    (the r4 1.88×-of-baseline 'fk_anti_join drift', VERDICT r4 §next
    3 — measured 2.0s two-scan vs 1.1s single-pass at sf0.1)."""
    from .checks.keys import foreign_key_violations_multi

    li = t(spark, sf_dir, "lineitem")
    child = li.select(F.col("l_orderkey").cast(_BIG).alias("l_orderkey"))
    o = t(spark, sf_dir, "orders")
    return foreign_key_violations_multi(
        child,
        ["l_orderkey"],
        {
            "clean": (o, ["o_orderkey"]),
            "dirty": (o.where(F.col("o_orderkey") % 7 != 0), ["o_orderkey"]),
        },
        broadcast_parent=True,
    )


@q(
    "k3_fk_composite",
    "SELECT DISTINCT CAST(l_partkey AS BIGINT) AS l_partkey,"
    " CAST(l_suppkey AS BIGINT) AS l_suppkey FROM lineitem"
    " WHERE (l_partkey + l_suppkey) % 5 = 0",
)
def _k3c(spark, sf_dir):
    from .checks.keys import foreign_key_violations_df

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast(_BIG).alias("l_partkey"),
        F.col("l_suppkey").cast(_BIG).alias("l_suppkey"),
    )
    parent = li.where((F.col("l_partkey") + F.col("l_suppkey")) % 5 != 0)
    return foreign_key_violations_df(
        li, ["l_partkey", "l_suppkey"], parent, ["l_partkey", "l_suppkey"]
    )


# ===================== A/W: aggregation & window ==========================


@q(
    "a1_pricing_summary",
    "SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,"
    " CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *"
    " CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price"
    " FROM lineitem GROUP BY l_returnflag, l_linestatus",
)
def _a1(spark, sf_dir):
    """A1: TPC-H Q1-shaped pricing summary — the flagship agg (one
    scan, partial+final hash agg; decimals keep it exact)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.sum(dec2(F.col("l_extendedprice"))).cast("double").alias("sum_price"),
        F.sum(dec2(F.col("l_extendedprice")) * dec2(1 - F.col("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
    )


@q(
    "w3_topk_orders",
    "SELECT CAST(o_orderkey AS BIGINT) AS orderkey, o_totalprice FROM orders"
    " ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def _w3(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.select(F.col("o_orderkey").cast(_BIG).alias("orderkey"), "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("orderkey"))
        .limit(10)
    )


# ===================== E1: flagship data-quality summary ==================


@q(
    "dq_summary",
    "SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,"
    " CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_lineitem,"
    " CAST((SELECT count(*) FROM orders WHERE o_orderstatus NOT IN"
    " ('F','P','O')) AS BIGINT) AS n_bad_status,"
    " CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)"
    " AS BIGINT) AS n_pk_dup_extra,"
    " CAST((SELECT count(DISTINCT l_orderkey) FROM lineitem WHERE l_orderkey"
    " NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT) AS n_fk_viol",
)
def _dq(spark, sf_dir):
    """E1 flagship: package-level data-quality summary over
    orders+lineitem, one number per check class."""
    from .checks.keys import check_primary_key, foreign_key_violations_df

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    n_orders = o.count()
    n_li = li.count()
    n_bad_status = o.select(
        F.count_if(~F.col("o_orderstatus").isin("F", "P", "O")).alias("n")
    ).first()["n"]
    pk = check_primary_key(o, ["o_orderkey"])
    fk = foreign_key_violations_df(
        li, ["l_orderkey"], o, ["o_orderkey"], broadcast_parent=True
    ).count()
    return spark.createDataFrame(
        [(n_orders, n_li, int(n_bad_status), pk.count, fk)],
        "n_orders bigint, n_lineitem bigint, n_bad_status bigint,"
        " n_pk_dup_extra bigint, n_fk_viol bigint",
    )


# ===================== X: extensions ======================================


@q(
    "x1_x2_dedup_groups",
    "SELECT 'exact' AS kind, CAST(count(*) AS BIGINT) AS n,"
    " CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ',"
    " 'g')))) AS BIGINT) AS v FROM documents"
    " UNION ALL"
    " SELECT 'simhash' AS kind, CAST(count(*) AS BIGINT) AS n,"
    " CAST(1 AS BIGINT) AS v FROM documents",
)
def _x1_x2(spark, sf_dir):
    """X1 exact dedup + X2b SimHash completeness as labeled rows
    (r11 — the COVERAGE.md next-candidate merge, funding the
    x7_fuzzy_sweep slot; every former measure survives):

    - 'exact': n = doc count, v = distinct normalized-md5
      fingerprints (the former x1_exact_dedup columns; r10 fixed the
      dotted-name misparse in the underlying exact_dedup).
    - 'simhash': n = doc count, v = the pigeonhole-completeness flag
      (1 iff the 4x16-bit chunk-LSH candidate set EQUALS brute-force
      Hamming<=3 on the same-source pair subspace — the former
      x2_simhash_dups 'complete_ok', cast to BIGINT for the unified
      column). The brute twin stays bounded to same-source pairs via
      an equi-join (never BroadcastNestedLoopJoin); the LSH side runs
      on the FULL table — the 100 TB path. xxhash64 fingerprints are
      not SQL-expressible, so the oracle pins the count + the
      invariant's truth."""
    d = t(spark, sf_dir, "documents")
    dw = t(spark, sf_dir, "documents", wide=True)

    exact = d.select(
        xtext.fingerprint_md5(F.col("text")).alias("fp")
    ).agg(
        F.lit("exact").alias("kind"),
        F.count(F.lit(1)).cast(_BIG).alias("n"),
        F.count_distinct("fp").cast(_BIG).alias("v"),
    )

    src = dw.select(F.col("doc_id").alias("id"), "source")
    lsh = (
        # max_bucket=None: the pigeonhole-completeness claim needs the
        # uncapped candidate set (the cap is the production default)
        xdedup.simhash_candidates(dw, max_hamming=3, max_bucket=None)
        .join(src.withColumnsRenamed({"id": "id_a", "source": "src_a"}), "id_a")
        .join(src.withColumnsRenamed({"id": "id_b", "source": "src_b"}), "id_b")
        .where(F.col("src_a") == F.col("src_b"))
        .select("id_a", "id_b", F.lit(1).alias("in_l"))
    )
    fp = xdedup.simhash_fingerprints(dw).join(src, "id")
    a = fp.select(F.col("id").alias("id_a"), "source", F.col("fp").alias("fp_a"))
    b = fp.select(F.col("id").alias("id_b"), "source", F.col("fp").alias("fp_b"))
    brute = (
        a.join(b, "source")
        .where(F.col("id_a") < F.col("id_b"))
        .where(xdedup.hamming64(F.col("fp_a"), F.col("fp_b")) <= 3)
        .select("id_a", "id_b", F.lit(1).alias("in_b"))
    )
    j = brute.join(lsh, ["id_a", "id_b"], "full")
    # union + one aggregate, not a 1-row crossJoin: keeps the whole
    # registry free of BroadcastNestedLoopJoin for the plan guard
    u = dw.select(F.lit("doc").alias("kind")).unionAll(
        j.where(F.col("in_b").isNull() | F.col("in_l").isNull()).select(
            F.lit("diff").alias("kind")
        )
    )
    simhash = u.agg(
        F.lit("simhash").alias("kind"),
        F.count_if(F.col("kind") == "doc").cast(_BIG).alias("n"),
        (F.count_if(F.col("kind") == "diff") == 0).cast(_BIG).alias("v"),
    )
    return exact.unionByName(simhash)


@q(
    "x4_doc_stats",
    "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
    " md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,"
    " CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"
    " AS BIGINT) AS ws_tokens,"
    " CAST(len(regexp_extract_all(text,"
    " $$'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+$$))"
    " AS BIGINT) AS bpe_tokens"
    " FROM documents",
)
def _x4stats(spark, sf_dir):
    """X4 per-document stats (merged r5: the former x4_fingerprint_md5
    + x4_token_counts, consolidated PER-DOC — strictly finer than the
    old per-source token sums, under the 50-row registry cap): md5
    fingerprint plus BOTH tokenizers' counts, each column value-hashed
    against DuckDB (the BPE-ish regex evaluates identically there via
    regexp_extract_all). One scan, map-only."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        xtext.fingerprint_md5(F.col("text")).alias("fp"),
        xtext.token_count(F.col("text")).cast(_BIG).alias("ws_tokens"),
        # null-preserving wrapper: token_count('bpe') coalesces null
        # text to 0 while the oracle's regexp_extract_all(NULL) is
        # NULL — latent per-doc divergence the old sum() form masked
        # (review r5; the fixture has no null text, but a refresh
        # could)
        F.when(
            F.col("text").isNotNull(),
            xtext.token_count(F.col("text"), "bpe"),
        )
        .cast(_BIG)
        .alias("bpe_tokens"),
    )


def _text_profile_oracle() -> str:
    """DuckDB twin of the merged x4_text_profile: 'declared' rows
    roll up by the corpus's own lang column; 'predicted' rows roll up
    by extensions/text.py::lang_id, generated from the same
    _LANG_PROFILES table so the two can never drift — per-language
    coverage ratios (Latin: profile-word occurrences per token; zh:
    profile-character occurrences per character), argmax with ties
    broken by max language code, 0 hits → 'und'. Ratios are exact
    divisions of the same integers in both engines, so the IEEE-double
    argmax cannot drift. Both row kinds carry the SAME per-group
    measures (n_docs, sum_chars, sum_tokens) so the predicted arm
    verifies more than the old count-only x4_langid did."""
    from .extensions.text import _LANG_PROFILES

    parts = []
    for lang, words in _LANG_PROFILES.items():
        if lang == "zh":
            expr = " + ".join(
                f"(length(text) - length(replace(text, '{w}', '')))"
                for w in words
            )
            sc = f"CAST({expr} AS DOUBLE) / greatest(length(text), 1)"
        else:
            lst = ", ".join(f"'{w}'" for w in words)
            sc = (
                f"CAST(len(list_filter(w, x -> list_contains([{lst}], x)))"
                " AS DOUBLE) / greatest(len(w), 1)"
            )
        parts.append(f"SELECT doc_id, '{lang}' AS lang, {sc} AS sc FROM t")
    union = " UNION ALL ".join(parts)
    tok = (
        "(CASE WHEN trim(text) = '' THEN 0"
        " ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"
    )
    return (
        "WITH t AS (SELECT doc_id, text,"
        " regexp_split_to_array(trim(lower(text)), '\\s+') AS w"
        " FROM documents),"
        f" s AS ({union}),"
        " best AS (SELECT doc_id,"
        " CASE WHEN sc > 0 THEN lang ELSE 'und' END AS lang_pred"
        " FROM s QUALIFY row_number() OVER"
        " (PARTITION BY doc_id ORDER BY sc DESC, lang DESC) = 1)"
        " SELECT 'declared' AS kind, lang,"
        " CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(sum(length(text)) AS BIGINT) AS sum_chars,"
        f" CAST(sum({tok}) AS BIGINT) AS sum_tokens"
        " FROM documents GROUP BY lang"
        " UNION ALL"
        " SELECT 'predicted' AS kind, b.lang_pred AS lang,"
        " CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(sum(length(d.text)) AS BIGINT) AS sum_chars,"
        f" CAST(sum({tok.replace('text', 'd.text')}) AS BIGINT)"
        " AS sum_tokens"
        " FROM best b JOIN documents d USING (doc_id)"
        " GROUP BY b.lang_pred"
    )


@q("x4_text_profile", _text_profile_oracle())
def _x4q(spark, sf_dir):
    """X4 corpus composition, labeled rows (merged r6: the former
    x4_text_profile + x4_langid — slot freed for x7_urls under the
    50-row registry cap, VERDICT r5 item 8/COVERAGE.md plan):

    - 'declared' rows: per-lang n_docs / sum_chars / sum_tokens by
      the corpus's own lang column (the old x4_text_profile).
    - 'predicted' rows: the SAME measures grouped by lang_id's
      n-gram-profile prediction — strictly more verification than the
      old count-only x4_langid row shape.

    One scan per arm, both map-side-combinable aggregates; lang_id is
    pure Column algebra (no UDF)."""
    d = t(spark, sf_dir, "documents", wide=True)
    measures = [
        F.count(F.lit(1)).cast(_BIG).alias("n_docs"),
        F.sum(F.length("text")).cast(_BIG).alias("sum_chars"),
        F.sum(xtext.token_count(F.col("text"))).cast(_BIG).alias("sum_tokens"),
    ]
    declared = d.groupBy("lang").agg(*measures).select(
        F.lit("declared").alias("kind"), "lang", "n_docs", "sum_chars",
        "sum_tokens",
    )
    predicted = (
        d.select(xtext.lang_id(F.col("text")).alias("lang"), "text")
        .groupBy("lang")
        .agg(*measures)
        .select(
            F.lit("predicted").alias("kind"), "lang", "n_docs",
            "sum_chars", "sum_tokens",
        )
    )
    return declared.unionByName(predicted)


@q(
    "x2_pair_checks",
    """WITH toks AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents),
sh AS (
  SELECT doc_id, source,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
           ELSE CAST([] AS VARCHAR[]) END) AS s
  FROM toks),
jac AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(a.s) > 0 AND len(b.s) > 0)
SELECT 'jaccard' AS kind, CAST(id_a AS BIGINT) AS a,
       CAST(id_b AS BIGINT) AS b, ROUND(j, 6) AS x
FROM jac WHERE j >= 0.1
UNION ALL
SELECT 'minhash_summary' AS kind,
       (SELECT CAST(count(*) AS BIGINT) FROM jac WHERE j >= 0.5) AS a,
       CAST(1 AS BIGINT) AS b, CAST(1.0 AS DOUBLE) AS x
UNION ALL
SELECT 'dedup_summary' AS kind,
       CAST((SELECT count(*) FROM documents) AS BIGINT) AS a,
       CAST(1 AS BIGINT) AS b, CAST(1.0 AS DOUBLE) AS x""",
)
def _x2pc(spark, sf_dir):
    """X2 pairwise checks, labeled rows (merged r5: the former
    x2_jaccard_pairs + x2_minhash_pairs; merged r9: + the former
    x2_minhash_dedup — the pre-declared COVERAGE.md merge #1, every
    original check preserved; slot funds x9_release under the 50-row
    driver cap):

    - 'jaccard' rows: exact 3-gram Jaccard >= 0.1 over SAME-SOURCE
      pairs (bounded pair space — equi-join on ``source``, never a
      BroadcastNestedLoopJoin; the LSH variants handle the unbounded
      case), every pair VALUE-hashed against DuckDB's list algebra.
    - 'minhash_summary' row: MinHash+LSH+verify pairs (the 100 TB
      path, run on the FULL table) vs the bounded exact twin at
      threshold 0.5 — a = the exact pair count (DuckDB recomputes
      it), b = containment (LSH+verify ⊆ exact, as 1/0), x = recall
      >= 0.9 on the bounded subspace (integer arithmetic, not HALF_UP
      rounding — ADVICE r3), as 1.0/0.0.
    - 'dedup_summary' row (the former x2_minhash_dedup, unchanged
      invariants): a = n_docs (DuckDB recounts), b = wellformed_ok as
      1/0 — every emitted pair canonical (id_a < id_b, no self-pairs
      or mirrors), x = jaccard_recheck_ok as 1.0/0.0 — every pair's
      Jaccard RECOMPUTED from per-doc hashed shingle sets (r12: the
      same xxhash64-per-distinct-shingle longs the verify payload
      uses; DuckDB's raw-text recompute stays the fully independent
      engine) with the independent inclusion-exclusion denominator
      |A|+|B|-|A∩B| must match the emitted value to 1e-9 AND clear
      the threshold. Both falsifiable against pair-generation /
      verify-join / set-construction bugs.

    Perf posture (all arms): shingle arrays computed ONCE PER DOC
    before the pair joins (n arrays, not n² evaluations — r2 rebuilt
    both sides per pair via interpreted HOF lambdas); joins are
    equi-joins on ``source`` / pair ids (shuffled hash join,
    ~p·(n/p)² pairs), plan-guard-tested. The LSH pair frame is
    persisted — it feeds the minhash_summary containment join AND
    both dedup_summary invariants; the cache is released by Spark's
    ContextCleaner when the driver drops the plan."""
    d = t(spark, sf_dir, "documents", wide=True)
    # r12 (guide §2.3): the per-doc shingle sets are XXHASH64'D — the
    # exact expression of dedup.hashed_shingle_sets, so the exact arm
    # intersects longs instead of ~30-byte strings and the broadcast
    # side shrinks ~4×. Set sizes (na/nb/ni, hence every emitted
    # jaccard) are unchanged absent a 64-bit collision inside one
    # pair's sets (P ≈ s²·2⁻⁶⁵ — the bound the verify path already
    # accepts); A/B at sf0.1 re-collected both forms: identical rows.
    sh = d.select(
        F.col("doc_id").cast(_BIG).alias("id"),
        "source",
        F.transform(
            F.array_distinct(
                xtext.shingles(
                    xtext.whitespace_tokens(
                        xtext.normalize_text(F.col("text"))
                    ),
                    3,
                )
            ),
            lambda g: F.xxhash64(g),
        ).alias("s"),
    )
    # value-neutral §4.4 barrier (x + 0 ≡ x) on the size: without it
    # InferFiltersFromConstraints + PushPredicateThroughNonJoin land
    # `size(shingles(text)) > 0` BELOW the wide repartition — the
    # whole shingle build runs on the serial single-row-group scan,
    # once per side, before the real projection computes it again.
    shf = sh.select(
        "id",
        "source",
        "s",
        (
            F.size("s") + F.monotonically_increasing_id() * F.lit(0)
        ).cast("int").alias("ns"),
    ).where(F.col("ns") > 0)
    a = shf.select(
        F.col("id").alias("id_a"), "source",
        F.col("s").alias("sa"), F.col("ns").alias("na"),
    )
    b = shf.select(
        F.col("id").alias("id_b"), "source",
        F.col("s").alias("sb"), F.col("ns").alias("nb"),
    )
    # r11 (guide §1.2/§2.3): ONE array_intersect per pair — |A∪B| by
    # inclusion-exclusion over the distinct shingle arrays
    # (|A|+|B|-|A∩B|), the same independent denominator the
    # dedup_summary recheck uses. Values identical: same integers,
    # same division.
    # r12: the intersect carries its own §4.4 barrier — without it the
    # j ≥ 0.1 filter below is substituted into the BroadcastHashJoin's
    # join CONDITION, where the plan evaluates array_intersect THREE
    # times (ni, and twice via the union term) for every one of the
    # ~n²/sources probed combinations, pre-filter (plan diff:
    # 3 array_intersect in the join condition → 1 in a post-join
    # projection; bounded fill 12.4 → ~2 s steady at sf0.1).
    sized = (
        a.join(b, "source")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "na", "nb",
            (
                F.size(F.array_intersect("sa", "sb"))
                + F.monotonically_increasing_id() * F.lit(0)
            ).cast("int").alias("ni"),
        )
    )
    union = F.col("na") + F.col("nb") - F.col("ni")
    jac = F.when(union > 0, F.col("ni") / union).otherwise(F.lit(0.0))
    # the j ≥ 0.1 frame feeds BOTH the 'jaccard' rows and (further
    # filtered to 0.5 — a subset by construction) the exact twin of
    # the minhash summary: compute the quadratic pair join ONCE and
    # persist the few surviving rows, instead of re-running the whole
    # join per consumer (r11, guide §2.4)
    bounded = (
        sized.select("id_a", "id_b", jac.alias("j"))
        .where(F.col("j") >= 0.1)
        .persist()
    )
    jaccard_rows = bounded.select(
        F.lit("jaccard").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.round("j", 6).alias("x"),
    )
    src = d.select(F.col("doc_id").cast(_BIG).alias("id"), "source")
    pairs = xdedup.minhash_dedup_pairs(d, threshold=0.5).persist()
    approx = (
        pairs
        .select(
            F.col("id_a").cast(_BIG).alias("id_a"),
            F.col("id_b").cast(_BIG).alias("id_b"),
        )
        # restrict to the same bounded pair space as the exact twin
        .join(src.withColumnsRenamed({"id": "id_a", "source": "src_a"}), "id_a")
        .join(src.withColumnsRenamed({"id": "id_b", "source": "src_b"}), "id_b")
        .where(F.col("src_a") == F.col("src_b"))
        .select("id_a", "id_b", F.lit(1).alias("in_a"))
    )
    exact = bounded.where(F.col("j") >= 0.5).select(
        "id_a", "id_b", F.lit(1).alias("in_e")
    )
    j = exact.join(approx, ["id_a", "id_b"], "full")
    summary = j.agg(
        F.count_if(F.col("in_e").isNotNull()).alias("ne"),
        F.count_if(F.col("in_a").isNotNull() & F.col("in_e").isNull()).alias("extra"),
        F.count_if(F.col("in_a").isNotNull() & F.col("in_e").isNotNull()).alias("common"),
    ).select(
        F.lit("minhash_summary").alias("kind"),
        F.col("ne").cast(_BIG).alias("a"),
        (F.col("extra") == 0).cast(_BIG).alias("b"),
        # integer arithmetic, not HALF_UP rounding: 9*ne/10 accepts
        # e.g. common=6 of ne=7 (recall .857) — ADVICE r3
        (F.col("common") * 10 >= F.col("ne") * 9).cast("double").alias("x"),
    )

    # 'dedup_summary': the former x2_minhash_dedup invariants, over
    # the SAME persisted pair frame (merged r9). Combined via UNION +
    # one aggregate — a constant-key 1-row join would fold into a
    # BroadcastNestedLoopJoin and trip the registry plan guard.
    sets = sh.select("id", "s")
    re_pairs = (
        pairs.join(
            sets.select(F.col("id").alias("id_a"), F.col("s").alias("sa")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("s").alias("sb")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    denom = F.size(F.col("sa")) + F.size(F.col("sb")) - inter
    j2 = F.when(denom > 0, inter / denom).otherwise(F.lit(0.0))
    malformed = re_pairs.where(F.col("id_a") >= F.col("id_b")).select(
        F.lit("malformed").alias("k")
    )
    recheck_bad = re_pairs.where(
        (F.abs(F.col("jaccard") - j2) > 1e-9) | (j2 < 0.5)
    ).select(F.lit("recheck").alias("k"))
    dedup = (
        d.select(F.lit("doc").alias("k"))
        .unionAll(malformed)
        .unionAll(recheck_bad)
    ).agg(
        F.lit("dedup_summary").alias("kind"),
        F.count_if(F.col("k") == "doc").cast(_BIG).alias("a"),
        (F.count_if(F.col("k") == "malformed") == 0).cast(_BIG).alias("b"),
        (F.count_if(F.col("k") == "recheck") == 0).cast("double").alias("x"),
    )
    # hand the persisted pair frames' lifetimes to the materializer
    # (check_oracle / any caller) instead of waiting for session GC
    return attach_persisted(
        jaccard_rows.unionByName(summary).unionByName(dedup), pairs, bounded
    )


@q(
    "x2_near_dedup",
    "SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS partition_ok,"
    " TRUE AS no_intact_pair_ok, TRUE AS cc_superset_ok FROM documents",
)
def _x2nd_cc(spark, sf_dir):
    """X2 end-to-end near_dedup with CONNECTED-COMPONENTS survivorship
    (r5, VERDICT r4 §next 4), stated as falsifiable Spark-side
    invariants (xxhash64 LSH is not SQL-expressible, so the oracle
    pins n_docs + the invariants):

    - ``partition_ok``: |kept| + |dropped| == |docs| — the anti-join
      removes exactly the labeled drop set, nothing else.
    - ``no_intact_pair_ok``: NO verified near-dup pair survives with
      both endpoints kept. Under CC exactly one representative per
      component survives, so any intact pair convicts a mislabeled
      component (e.g. a propagation that stopped early and split one
      component into two labels).
    - ``cc_superset_ok``: the greedy drop set (every pair's id_b) is
      contained in the CC drop set — a theorem of min-id labeling
      (id_b's component contains id_a < id_b, so id_b is never its
      component's min); a violation convicts the labeling.

    The CC labels come from pair_components (min-label propagation to
    fixpoint, hash equi-joins + localCheckpoint); pairs are persisted
    — they feed four consumers (labels, kept, intact check, greedy
    twin) and the propagation's eager jobs fill the cache first. The
    cache is released by Spark's ContextCleaner once the driver drops
    the returned plan (an in-builder unpersist would force the later
    consumers to recompute the whole minhash pipeline); at oracle
    scale the frame is a few thousand rows."""
    d = t(spark, sf_dir, "documents", wide=True)
    pairs = xdedup.minhash_dedup_pairs(d, threshold=0.5).persist()
    labels = xdedup.pair_components(pairs)
    drop_cc = labels.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    kept = d.select("doc_id").join(drop_cc, "doc_id", "left_anti")
    kept_ids = kept.select(F.col("doc_id").alias("kid"))
    intact = (
        pairs.join(kept_ids.withColumnsRenamed({"kid": "id_a"}), "id_a")
        .join(kept_ids.withColumnsRenamed({"kid": "id_b"}), "id_b")
        .select(F.lit("intact").alias("kind"))
    )
    greedy_not_in_cc = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .join(drop_cc, "doc_id", "left_anti")
        .select(F.lit("sup").alias("kind"))
    )
    u = (
        d.select(F.lit("doc").alias("kind"))
        .unionAll(kept.select(F.lit("kept").alias("kind")))
        .unionAll(drop_cc.select(F.lit("drop").alias("kind")))
        .unionAll(intact)
        .unionAll(greedy_not_in_cc)
    )
    return attach_persisted(
        u.agg(
            F.count_if(F.col("kind") == "doc").cast(_BIG).alias("n_docs"),
            (
                F.count_if(F.col("kind") == "kept")
                + F.count_if(F.col("kind") == "drop")
                == F.count_if(F.col("kind") == "doc")
            ).alias("partition_ok"),
            (F.count_if(F.col("kind") == "intact") == 0).alias(
                "no_intact_pair_ok"
            ),
            (F.count_if(F.col("kind") == "sup") == 0).alias(
                "cc_superset_ok"
            ),
        ),
        pairs,
    )


@q(
    "x3_cosine_topk",
    "SELECT CAST(b.vec_id AS BIGINT) AS vec_id,"
    " ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])), 6) AS cosine"
    " FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id = 0"
    " ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id LIMIT 10",
)
def _x3(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    top = xsim.cosine_topk(e, [float(x) for x in qv], k=10)
    return top.select(
        F.col("vec_id").cast(_BIG).alias("vec_id"),
        F.round("cosine", 6).alias("cosine"),
    )


_EXACT_TOP10_SQL = (
    "SELECT CAST(b.vec_id AS BIGINT) AS vec_id"
    " FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id = 0"
    " ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id LIMIT 10"
)


def _topk_overlap_summary(spark, sf_dir, approx_fn, min_overlap: int, kind: str):
    """Shared overlap@10 summary for the approximate top-k queries.

    The raw testdata embeddings are near-random (max pairwise cosine
    ≈ 0.5), a regime where NO sublinear ANN can beat noise — so the
    query runs on a planted-structure variant: every 50th vector is
    replaced by 0.9·q + 0.1·v (cosine ≈ 0.99 to the query), giving a
    true neighborhood the index must recover. Emits (k, top1_id,
    top1_cosine, overlap_ok): top1 comes from the APPROXIMATE result —
    the query vector itself must always be found at cosine 1.0, which
    the oracle states exactly; overlap@10 vs the exact top-10 must
    clear ``min_overlap`` (fixed seeds → deterministic)."""
    e = t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in e.where(F.col("vec_id") == 0).select("embedding").first()[
            "embedding"
        ]
    ]
    qlit = F.array(*[F.lit(0.9 * float(x)) for x in qv])
    planted_vec = F.zip_with(
        qlit, F.col("embedding").cast("array<double>"), lambda x, y: x + 0.1 * y
    )
    e = e.select(
        "vec_id",
        F.when(F.col("vec_id") % 50 == 0, planted_vec)
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )
    approx = approx_fn(e, qv).select(
        F.col("vec_id").cast(_BIG).alias("vec_id"), "cosine"
    )
    exact = xsim.cosine_topk(e, qv, k=10).select(
        F.col("vec_id").cast(_BIG).alias("vec_id")
    )
    # one aggregate over a left join carries overlap AND argmax-top1
    # (struct-max: maximize cosine, then minimize vec_id) — no 1-row
    # crossJoin, so the registry-wide plan guard holds
    j = approx.join(
        exact.select("vec_id", F.lit(1).alias("in_e")), "vec_id", "left"
    )
    agg = j.agg(
        F.count_if(F.col("in_e").isNotNull()).alias("n"),
        F.max(
            F.struct(
                F.col("cosine").alias("c"), (-F.col("vec_id")).alias("nid")
            )
        ).alias("best"),
    )
    return agg.select(
        F.lit(kind).alias("kind"),
        F.lit(10).cast(_BIG).alias("k"),
        (F.col("n") >= min_overlap).alias("overlap_ok"),
        (-F.col("best.nid")).cast(_BIG).alias("top1_id"),
        F.round(F.col("best.c"), 6).alias("top1_cosine"),
    )


@q(
    "x3_ann_ivf_topk",
    "SELECT 'ann' AS kind, CAST(10 AS BIGINT) AS k, TRUE AS overlap_ok,"
    " CAST(0 AS BIGINT) AS top1_id, CAST(1.0 AS DOUBLE) AS top1_cosine"
    " UNION ALL"
    " SELECT 'ivf' AS kind, CAST(10 AS BIGINT) AS k, TRUE AS overlap_ok,"
    " CAST(0 AS BIGINT) AS top1_id, CAST(1.0 AS DOUBLE) AS top1_cosine",
)
def _x3ann_ivf(spark, sf_dir):
    """X3b multi-probe LSH ANN + X3c IVF ANN (the data-independent and
    data-adaptive index families), one labeled row each — merged r5 to
    free a registry slot under the driver's 50-entry cap (the two
    summaries share schema and harness; VERDICT r4 §next 5). Each is a
    DETERMINISTIC overlap@10 vs the exact top-10: ≥7/10 true neighbors
    recovered (fixed hyperplane seed / hash-sampled centroid seeds),
    top-1 = the query vector itself at cosine 1.0."""
    ann = _topk_overlap_summary(
        spark,
        sf_dir,
        lambda e, qv: xsim.ann_topk(e, qv, k=10),
        min_overlap=7,
        kind="ann",
    )
    ivf = _topk_overlap_summary(
        spark,
        sf_dir,
        lambda e, qv: xsim.ivf_topk(e, qv, k=10),
        min_overlap=7,
        kind="ivf",
    )
    return ann.unionByName(ivf)


@q(
    "x3_embedding_dedup",
    "SELECT 'pair' AS kind, CAST(a.vec_id AS BIGINT) AS a,"
    " CAST(b.vec_id AS BIGINT) AS b,"
    " ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])), 6) AS x"
    " FROM embeddings a JOIN embeddings b"
    " ON CAST(a.vec_id AS BIGINT) // 64 = CAST(b.vec_id AS BIGINT) // 64"
    " AND a.vec_id < b.vec_id"
    " WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])) >= 0.45"
    " UNION ALL"
    " SELECT 'lsh_summary', CAST(count(*) AS BIGINT),"
    " CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)"
    " FROM embeddings a JOIN embeddings b"
    " ON CAST(a.vec_id AS BIGINT) // 64 = CAST(b.vec_id AS BIGINT) // 64"
    " AND a.vec_id < b.vec_id"
    " WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])) >= 0.45",
)
def _x3p(spark, sf_dir):
    """X2e, labeled rows (merged r5 continuation: the former
    x3_cosine_pairs + x3_embedding_near_dups — every original check
    preserved; slot freed for x3_semantic_dedup under the 50-row cap):

    - 'pair' rows: exact cosine pairs ≥ threshold, BOUNDED to
      same-block pairs (vec_id div 64) so the join is a shuffled-hash
      equi-join on the block key — n·32 comparisons, linear in n —
      instead of the O(n²) BroadcastNestedLoopJoin that sat on the
      benched registry through r3 (VERDICT r3 §wrong 2). Every pair
      VALUE-hashed against DuckDB's list_cosine_similarity.
    - 'lsh_summary' row: banded random-hyperplane LSH + exact-cosine
      verify (extensions/dedup.py::embedding_near_dups) run on the
      FULL table, restricted to the same block subspace, and compared
      to the exact set: a = the exact pair count (DuckDB recomputes
      it), b = containment (LSH ⊆ exact — verify is exact cosine),
      x = recall ≥ 85% on the subspace (integer arithmetic, not
      HALF_UP rounding — ADVICE r3). Threshold 0.45 so near-random
      testdata yields non-empty output; the designed ≥0.9 operating
      point has ≈99% recall (test_extensions)."""
    e = t(spark, sf_dir, "embeddings")
    # r11: probe the width once so both kernels run the codegen-
    # expanded cosine (bit-identical to the HOF for uniform-width
    # data), and compute the exact-pairs frame ONCE — it feeds both
    # the 'pair' rows and the recall compare, and uncached each arm
    # re-ran the full block join.
    dim = int(e.select(F.size("embedding").alias("d")).first()["d"])
    cos_pairs = xdedup.embedding_cosine_pairs(
        e, threshold=0.45, block_size=64, dim=dim
    ).persist()
    pairs = cos_pairs.select(
        F.lit("pair").alias("kind"),
        F.col("id_a").cast(_BIG).alias("a"),
        F.col("id_b").cast(_BIG).alias("b"),
        F.round("cosine", 6).alias("x"),
    )
    blk_a = F.expr("CAST(id_a AS BIGINT) div 64")
    blk_b = F.expr("CAST(id_b AS BIGINT) div 64")
    approx = (
        # max_bucket=None: the recall claim is over the uncapped
        # candidate set (the cap is the production default)
        xdedup.embedding_near_dups(
            e, threshold=0.45, num_bands=16, planes_per_band=4,
            max_bucket=None, dim=dim,
        )
        .select(
            F.col("id_a").cast(_BIG).alias("id_a"),
            F.col("id_b").cast(_BIG).alias("id_b"),
        )
        .where(blk_a == blk_b)
        .select("id_a", "id_b", F.lit(1).alias("in_a"))
    )
    exact = cos_pairs.select(
        F.col("id_a").cast(_BIG).alias("id_a"),
        F.col("id_b").cast(_BIG).alias("id_b"),
        F.lit(1).alias("in_e"),
    )
    j = exact.join(approx, ["id_a", "id_b"], "full")
    summary = j.agg(
        F.count_if(F.col("in_e").isNotNull()).alias("ne"),
        F.count_if(F.col("in_a").isNotNull() & F.col("in_e").isNull()).alias("extra"),
        F.count_if(F.col("in_a").isNotNull() & F.col("in_e").isNotNull()).alias("common"),
    ).select(
        F.lit("lsh_summary").alias("kind"),
        F.col("ne").cast(_BIG).alias("a"),
        (F.col("extra") == 0).cast(_BIG).alias("b"),
        (F.col("common") * 100 >= F.col("ne") * 85).cast("double").alias("x"),
    )
    return attach_persisted(pairs.unionByName(summary), cos_pairs)


@q(
    "x3_knn_join",
    "SELECT CAST(a.vec_id AS BIGINT) AS left_id,"
    " CAST(b.vec_id AS BIGINT) AS right_id,"
    " ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])), 6) AS cosine"
    " FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id"
    " WHERE a.vec_id < 50"
    " QUALIFY row_number() OVER (PARTITION BY a.vec_id"
    " ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 3",
)
def _x3knn(spark, sf_dir):
    """X3d: exact top-k-per-row similarity join — r5: the
    blocked-matmul distributed path (similarity.py::knn_join
    method="blocked": broadcast query matrix + mapInPandas BLAS block
    scores + exact per-partition top-k), oracle-checked against
    DuckDB's cross-join QUALIFY form. Left side bounded to 50 query
    rows only so the oracle compare stays small — the plan itself is
    nested-loop-free and no longer needs a plan-guard exemption."""
    e = t(spark, sf_dir, "embeddings")
    out = xsim.knn_join(e.where(F.col("vec_id") < 50), e, k=3)
    return out.select(
        F.col("left_id").cast(_BIG).alias("left_id"),
        F.col("right_id").cast(_BIG).alias("right_id"),
        F.round("cosine", 6).alias("cosine"),
    )


@q(
    "x3_semantic_dedup",
    "WITH assigned AS ("
    " SELECT CAST(vec_id AS BIGINT) AS id,"
    " CASE WHEN embedding IS NULL THEN NULL"
    " WHEN embedding[1] >= embedding[2] THEN 0 ELSE 1 END AS cid"
    " FROM embeddings)"
    " SELECT 'assign' AS kind, CAST(cid AS BIGINT) AS a,"
    " CAST(count(*) AS BIGINT) AS b, CAST(0.0 AS DOUBLE) AS x"
    " FROM assigned GROUP BY cid"
    " UNION ALL"
    " SELECT 'survivors', (SELECT CAST(count(*) AS BIGINT) FROM embeddings),"
    " CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)"
    " UNION ALL"
    " SELECT 'reps', (SELECT CAST(count(*) AS BIGINT) FROM embeddings),"
    " CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)",
)
def _x3sem(spark, sf_dir):
    """X2f SemDeDup (extensions/dedup.py::semantic_dedup_audit,
    arXiv:2303.09540), labeled rows against a two-part oracle:

    - 'assign' rows: per-cluster row counts under two FIXED literal
      axis centroids (e1, e2). On those centroids nearest-centroid =
      ``argmin ||v_n - c||² ⇔ v[0] >= v[1]`` (normalization cancels;
      the struct-min tie goes to cid 0 exactly like SQL's ``>=``), so
      DUCKDB RECOMPUTES THE ASSIGNMENT INDEPENDENTLY and the counts
      are value-hashed — the real ``_assign_cids`` expression vs an
      independent engine. (nlist=2 exercises the codegen expression
      path; matmul-path parity vs that expression is pinned separately
      in test_extensions: 0/2000 mismatches.)
    - 'survivors' row: falsifiable Spark-side invariants recomputed
      with float64 codegen cosine (independent of the kernel's
      float32 block matmul; ±1e-6 threshold margins absorb the
      precision gap): b = every DROPPED row has a same-cluster
      neighbor ≥ T−1e-6 (no isolated vertex ever drops — under
      chaining the neighbor may itself be dropped, so the witness is
      any row, not a kept one), x = NO kept-kept same-cluster pair
      ≥ T+1e-6 (kept rows are one-per-component, and components
      admit no cross edges).
    - 'reps' row: b = survivorship is exactly min-id-per-component
      (``kept ⇔ id == component`` under keep='min_id').

    a on the summary rows = total audit rows (DuckDB recomputes: the
    audit covers every input exactly once). Threshold 0.45 so the
    near-random testdata has real duplicate structure; joins are
    cluster equi-joins (plan-guard clean)."""
    e = t(spark, sf_dir, "embeddings")
    first = e.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"])
    c0 = [1.0] + [0.0] * (dim - 1)
    c1 = [0.0, 1.0] + [0.0] * (dim - 2)
    thr = 0.45
    # persisted (r11): the audit feeds SEVEN consumers — assign_rows
    # in the returned union, the four verification actions below, and
    # the dropped/kept join arms — and its lineage is the full
    # SemDeDup kernel (assign + per-cluster matmul + label
    # propagation). Uncached, every consumer re-ran it: 59 s at
    # sf0.01; cached it fills once (~6 s) and the rest are cache
    # reads. Released by the harness via the cacheutil contract.
    audit = xdedup.semantic_dedup_audit(
        e, id_col="vec_id", vec_col="embedding",
        threshold=thr, centroids=[c0, c1], keep="min_id",
    ).select(
        F.col("vec_id").cast(_BIG).alias("id"),
        F.col("cluster").cast(_BIG).alias("cluster"),
        F.col("component").cast(_BIG).alias("component"),
        "kept",
    ).persist()
    assign_rows = audit.groupBy("cluster").agg(
        F.count(F.lit(1)).cast(_BIG).alias("b")
    ).select(
        F.lit("assign").alias("kind"),
        F.col("cluster").alias("a"),
        "b",
        F.lit(0.0).alias("x"),
    )

    from .extensions.similarity import cosine, norm

    # r12 (VERDICT r11 item 4, guide §2.3/§2.5): the two verification
    # joins were the build mass — measured at sf0.1: witnessed 7.8 s,
    # kept_bad 19.8 s of the 39 s builder. Two causes, two fixes:
    # (a) the cosine recomputed BOTH norms per candidate PAIR —
    #     norms now hoist per ROW (norm) and the pair pays only the
    #     expanded dot + one divide (cosine(..., norms=) — the same
    #     expansion, fold order and ragged/zero semantics, the r11
    #     embedding-verify hoist);
    # (b) the join key is the CLUSTER id and nlist=2, so the whole
    #     ~n²/2-pair comparison ran on two tasks — the pair space is
    #     now block-SALTED (one side exploded over k salts, the other
    #     keyed by its own deterministic salt; every pair still meets
    #     exactly once) so it spreads across k × nlist tasks. k
    #     derives from the session's shuffle partitions, not a local
    #     constant.
    # Verification booleans are unchanged (same cosines, same
    # comparisons): witnessed 7.8 → ~1 s, kept_bad 19.8 → ~2 s.
    n_salt = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32") or 32
    )
    vecs = e.select(
        F.col("vec_id").cast(_BIG).alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    av = audit.join(vecs, "id").withColumn(
        "nrm", norm(F.col("v"), dim)
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    dropped = av.where(~F.col("kept")).select(
        F.col("id").alias("d_id"), F.col("cluster").alias("c"),
        F.col("v").alias("dv"), F.col("nrm").alias("dn"),
        salts.alias("salt"),
    )
    anyrow = av.select(
        F.col("id").alias("o_id"), F.col("cluster").alias("c"),
        F.col("v").alias("ov"), F.col("nrm").alias("on"),
        F.pmod(F.xxhash64("id"), F.lit(n_salt)).cast("int").alias("salt"),
    )
    cos = cosine(
        F.col("dv"), F.col("ov"), dim, norms=(F.col("dn"), F.col("on"))
    )
    witnessed = (
        dropped.join(anyrow, ["c", "salt"])
        .where((F.col("d_id") != F.col("o_id")) & (cos >= thr - 1e-6))
        .select("d_id")
        .distinct()
    )
    kept = av.where(F.col("kept"))
    kept_a = kept.select(
        F.col("id").alias("k_id"), F.col("cluster").alias("c"),
        F.col("v").alias("kv"), F.col("nrm").alias("kn"),
        salts.alias("salt"),
    )
    kept_b = kept.select(
        F.col("id").alias("k2_id"), F.col("cluster").alias("c"),
        F.col("v").alias("k2v"), F.col("nrm").alias("k2n"),
        F.pmod(F.xxhash64("id"), F.lit(n_salt)).cast("int").alias("salt"),
    )
    kcos = cosine(
        F.col("kv"), F.col("k2v"), dim, norms=(F.col("kn"), F.col("k2n"))
    )
    kept_bad = (
        kept_a.join(kept_b, ["c", "salt"])
        .where((F.col("k_id") < F.col("k2_id")) & (kcos >= thr + 1e-6))
    )
    n_rows = audit.count()  # fills the cache; later actions read it
    # the four verification actions are independent — submit them
    # concurrently so their driver round trips overlap (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_drop = pool.submit(audit.where(~F.col("kept")).count)
        f_wit = pool.submit(witnessed.count)
        f_kept = pool.submit(kept_bad.count)
        f_reps = pool.submit(
            audit.where(
                F.col("kept") != (F.col("id") == F.col("component"))
            ).count
        )
        n_dropped = f_drop.result()
        witness_ok = f_wit.result() == n_dropped
        kept_ok = f_kept.result() == 0
        reps_ok = f_reps.result() == 0
    spark2 = e.sparkSession
    summary = spark2.createDataFrame(
        [
            ("survivors", n_rows, int(witness_ok), float(kept_ok)),
            ("reps", n_rows, int(reps_ok), 1.0),
        ],
        "kind string, a bigint, b bigint, x double",
    )
    return attach_persisted(assign_rows.unionByName(summary), audit)


@q(
    "x3_sim_join",
    "SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 30)"
    " AS BIGINT) AS n_left,"
    " CAST((SELECT count(*) FROM embeddings WHERE vec_id < 30) * 3"
    " AS BIGINT) AS n_exact, TRUE AS overlap_ok",
)
def _x3sj(spark, sf_dir):
    """X3e banded-LSH similarity_join (the scale path for
    top-k-per-row joins), as a DETERMINISTIC overlap summary vs the
    exact knn_join: per left row the approximate top-3 must recover
    ≥ 60% of the exact top-3 pairs overall (fixed seed →
    deterministic; near-random testdata vectors make per-pair
    collision the designed ≈99.8% only for genuinely similar pairs,
    so the bound is looser than the near-dup recall test's planted
    pairs)."""
    e = t(spark, sf_dir, "embeddings")
    left = e.where(F.col("vec_id") < 30)
    approx = xsim.similarity_join(
        left, e, k=3, num_bands=8, planes_per_band=4
    ).select(
        F.col("left_id").cast(_BIG).alias("left_id"),
        F.col("right_id").cast(_BIG).alias("right_id"),
        F.lit(1).alias("in_a"),
    )
    exact = xsim.knn_join(left, e, k=3).select(
        F.col("left_id").cast(_BIG).alias("left_id"),
        F.col("right_id").cast(_BIG).alias("right_id"),
        F.lit(1).alias("in_e"),
    )
    j = exact.join(approx, ["left_id", "right_id"], "full")
    # union + one aggregate, not a 1-row crossJoin (plan guard)
    u = left.select(
        F.lit("l").alias("kind"),
        F.lit(None).cast("int").alias("in_e"),
        F.lit(None).cast("int").alias("in_a"),
    ).unionAll(j.select(F.lit("p").alias("kind"), "in_e", "in_a"))
    return u.agg(
        F.count_if(F.col("kind") == "l").cast(_BIG).alias("n_left"),
        F.count_if(F.col("in_e").isNotNull()).cast(_BIG).alias("n_exact"),
        (
            F.count_if(F.col("in_a").isNotNull() & F.col("in_e").isNotNull())
            >= F.count_if(F.col("in_e").isNotNull()) * 0.6
        ).alias("overlap_ok"),
    )


@q(
    "x5_events_window",
    "SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),"
    " '%Y-%m-%d %H:%M') AS win_start, event_type,"
    " CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val"
    " FROM events GROUP BY 1, 2",
)
def _x5(spark, sf_dir):
    """X5 (batch twin of the streaming query): 10-minute tumbling
    windows per event type. The plan is built by the SHARED
    streaming/validate.py::windowed_event_rollup — the same function a
    streaming caller runs over readStream, so this oracle row
    certifies both engines (r5; equivalence asserted end-to-end in
    test_streaming)."""
    from .streaming.validate import windowed_event_rollup

    ev = t(spark, sf_dir, "events")
    return windowed_event_rollup(ev)


@q(
    "x5_sessions",
    """WITH w_marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events),
w_isl AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM w_marked),
w_per AS (
  SELECT user_id, sess, count(*) AS n FROM w_isl GROUP BY user_id, sess),
r_marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
  FROM events),
r_isl AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM r_marked),
r_per AS (
  SELECT user_id, sess, count(*) AS n FROM r_isl GROUP BY user_id, sess)
SELECT 'window' AS kind, CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(max(n) AS BIGINT) AS largest_session
FROM w_per GROUP BY user_id
UNION ALL
SELECT 'rows' AS kind, CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(max(n) AS BIGINT) AS largest_session
FROM r_per GROUP BY user_id""",
)
def _x5s(spark, sf_dir):
    """X5b+X7c sessionization, merged labeled rows (r7 — COVERAGE.md
    pre-declared merge #1, slot funds x6_vecindex):

    - 'window' arm: session_window (the streaming-native op) via the
      SHARED streaming/validate.py::session_event_counts
      (watermark=None on batch; streaming equivalence asserted in
      test_streaming). Gap test is half-open ``>=`` — an event exactly
      gap-after starts a NEW session.
    - 'rows' arm: row-level extensions/temporal.py::session_ids (the
      event-to-session mapping that enriches individual events), gap
      test strict ``>`` — the deliberate semantic difference between
      the two operators, and the oracle states both.

    Both arms emit (user_id, n_sessions, n_events, largest_session);
    largest_session convicts a mis-assignment that happens to
    preserve session COUNTS (a boundary row moved between adjacent
    sessions). Ties on (user_id, ts) are harmless (diff 0 opens no
    session under any tie order); the events table carries no null ts
    (a future null would fail the hash compare loudly — Spark sorts
    nulls first, DuckDB last)."""
    from .extensions.temporal import session_ids
    from .streaming.validate import session_event_counts

    ev = t(spark, sf_dir, "events")
    sess = session_event_counts(
        ev, "ts", "user_id", gap="30 minutes", watermark=None
    )
    win = sess.groupBy(F.col("user_id").cast(_BIG).alias("user_id")).agg(
        F.count(F.lit(1)).cast(_BIG).alias("n_sessions"),
        F.sum("n_events").cast(_BIG).alias("n_events"),
        F.max("n_events").cast(_BIG).alias("largest_session"),
    ).select(F.lit("window").alias("kind"), "*")

    s = session_ids(
        ev.select("user_id", "ts"), "ts", by=["user_id"], gap=1800.0
    )
    per_sess = s.groupBy(
        "user_id", F.col("session_id")["n"].alias("sess")
    ).agg(F.count(F.lit(1)).alias("n"))
    rows = per_sess.groupBy(
        F.col("user_id").cast(_BIG).alias("user_id")
    ).agg(
        F.count(F.lit(1)).cast(_BIG).alias("n_sessions"),
        F.sum("n").cast(_BIG).alias("n_events"),
        F.max("n").cast(_BIG).alias("largest_session"),
    ).select(F.lit("rows").alias("kind"), "*")
    return win.unionByName(rows)


# ===================== P1/P21: trivial parsers ============================


@q(
    "p1_p21_passthrough",
    "SELECT 'string' AS kind, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(count(DISTINCT c_name) AS BIGINT) AS n_out FROM customer"
    " UNION ALL"
    " SELECT 'any' AS kind, count(*) FILTER (WHERE FALSE) AS n_bad,"
    " CAST(count(p_type) AS BIGINT) AS n_out FROM part",
)
def _p1_p21(spark, sf_dir):
    """P1 string default parse (= identity, never errors, value
    preserved) + P21 `any` passthrough (no validation, lexical kept)
    in one query (50-entry registry cap). [R parse.py::parse_string /
    parse_field]; SURVEY.md §2.3."""
    c = t(spark, sf_dir, "customer")
    pf_s = parse_field(F.col("c_name"), Field("v", type="string"))
    s = c.select(pf_s.parsed.alias("p"), pf_s.bad.alias("b")).agg(
        F.lit("string").alias("kind"),
        F.count_if(F.col("b")).alias("n_bad"),
        F.count_distinct(F.col("p")).cast(_BIG).alias("n_out"),
    )

    p = t(spark, sf_dir, "part")
    pf_a = parse_field(F.col("p_type"), Field("v", type="any"))
    a = p.select(pf_a.parsed.alias("p"), pf_a.bad.alias("b")).agg(
        F.lit("any").alias("kind"),
        F.count_if(F.col("b")).alias("n_bad"),
        F.count(F.col("p")).cast(_BIG).alias("n_out"),
    )
    return s.unionByName(a)


# ===================== X6: multimodal columns =============================


@q(
    "x6_media",
    "SELECT 'features' AS kind, CAST(doc_id AS BIGINT) AS media_id,"
    " CAST(octet_length(encode(text)) AS BIGINT) AS v1,"
    " CAST(16 AS BIGINT) AS v2 FROM documents"
    " UNION ALL"
    " SELECT 'frame' AS kind, CAST(doc_id AS BIGINT) AS media_id,"
    " unnest(generate_series(0, greatest(CAST(n_chars AS BIGINT) - 1, 0), 500))"
    " AS v1, CAST(NULL AS BIGINT) AS v2"
    " FROM documents",
)
def _x6(spark, sf_dir):
    """X-multimodal, labeled rows (merged r5 round: the former
    x6_media_features + x6_frame_sample — every original check
    preserved; slot freed for x7_dsir under the 50-row cap):

    - 'features' rows (SURVEY.md §2.1 S5): opaque binary column +
      typed metadata + Arrow-batched mapInPandas feature extraction.
      Blobs are the utf-8 bytes of documents.text (deterministic
      stand-in — real image/audio decode is stubbed,
      extensions/multimodal.py). v1 = blob byte length (metadata
      path), v2 = feature_dim IF decode_ok else -1 (batch contract:
      the oracle pins 16, so a decode failure or dim drift breaks
      the row).
    - 'frame' rows: the frame-sampling plan — sequence+explode
      expands each media row into per-frame work items JVM-side, so
      a video decoder only ever sees (media_id, frame_ts) tasks; the
      shuffle unit is a frame, not a blob
      (extensions/multimodal.py::frame_sample_plan). duration_ms is
      faked as n_chars (no media libs in container); v1 = frame ts."""
    from .extensions import multimodal as xmulti

    d = t(spark, sf_dir, "documents", wide=True)
    media = xmulti.attach_media_metadata(
        d.select(
            F.col("doc_id").cast(_BIG).alias("media_id"),
            F.encode("text", "UTF-8").alias("blob"),
        )
    )
    feats = xmulti.extract_features(media)
    meta = media.select("media_id", F.col("media_meta.n_bytes").alias("n_bytes"))
    features = feats.join(meta, "media_id").select(
        F.lit("features").alias("kind"),
        F.col("media_id"),
        F.col("n_bytes").cast(_BIG).alias("v1"),
        F.when(F.col("decode_ok"), F.size("feature"))
        .otherwise(F.lit(-1))
        .cast(_BIG)
        .alias("v2"),
    )
    vid = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast(_BIG).alias("media_id"),
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("n_chars").cast(_BIG).alias("duration_ms"),
            F.col("n_chars").cast(_BIG).alias("n_bytes"),
        ).alias("media_meta"),
    )
    frames = xmulti.frame_sample_plan(vid, every_ms=500).select(
        F.lit("frame").alias("kind"),
        "media_id",
        F.col("frame_ts_ms").cast(_BIG).alias("v1"),
        F.lit(None).cast(_BIG).alias("v2"),
    )
    return features.unionByName(frames)


# ===================== A4: profiling aggregates ===========================


@q(
    "a4_profile_rollup",
    "SELECT coalesce(l_returnflag, '<all>') AS returnflag,"
    " coalesce(l_linestatus, '<all>') AS linestatus,"
    " CAST(count(*) AS BIGINT) AS n,"
    " CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders"
    " FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
)
def _a4(spark, sf_dir):
    """A4 (SURVEY.md §2.6): hierarchical profiling via rollup —
    grouping-set aggregation with an exact distinct (both engines
    compute rollup levels natively; map-side partial agg + single
    shuffle). The approx variant (approx_count_distinct/HLL) is the
    100 TB path but is not oracle-comparable across engines."""
    li = t(spark, sf_dir, "lineitem", wide=True)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast(_BIG).alias("n"),
        F.count_distinct(F.col("l_orderkey")).cast(_BIG).alias("n_orders"),
    ).select(
        F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
        "n",
        "n_orders",
    )


# ===================== quarantine split ===================================


@q(
    "dq2_quarantine",
    "SELECT CAST(count(*) FILTER (WHERE NOT (l_orderkey % 97 = 0 OR"
    " l_linenumber % 5 = 0)) AS BIGINT) AS n_valid,"
    " CAST(count(*) FILTER (WHERE l_orderkey % 97 = 0 OR"
    " l_linenumber % 5 = 0) AS BIGINT) AS n_invalid,"
    " CAST(count(*) FILTER (WHERE l_orderkey % 97 = 0) AS BIGINT) AS n_bad_qty,"
    " CAST(count(*) FILTER (WHERE l_linenumber % 5 = 0) AS BIGINT)"
    " AS n_missing_flag FROM lineitem",
)
def _dq2(spark, sf_dir):
    """Quarantine split (validate.partition_valid): rows failing any
    cell-level check route to a dead-letter DataFrame with per-row
    failed-check labels. Dirt injected by modulo rules so the oracle
    counts expectations arithmetically."""
    from .schema import TableSchema
    from .validate import partition_valid

    # wide=True (r11): partition_valid's check projection (number
    # parse + enum/required masks) is the cost — run it full-width.
    # The rendition columns additionally carry the value-neutral
    # non-deterministic barrier (monotonically_increasing_id()*0 — the
    # similarity.py::_with_assigned_cid pattern): partition_valid's
    # valid/invalid branches FILTER on the compiled label array, and
    # PushPredicateThroughNonJoin would substitute the whole check
    # expression through this projection and below the repartition,
    # landing the entire parse+check work back on the serial scan
    # (measured: 3.6 s with the filter at the scan vs 0.9 s held
    # above the exchange). Values are identical: x + 0 ≡ x.
    li = t(spark, sf_dir, "lineitem", wide=True)
    bar = F.monotonically_increasing_id() * F.lit(0)
    raw = li.select(
        (F.col("l_orderkey") + bar).cast("string").alias("okey"),
        F.when((F.col("l_orderkey") + bar) % 97 == 0, F.lit("x"))
        .otherwise(F.col("l_quantity").cast("string"))
        .alias("qty"),
        F.when((F.col("l_linenumber") + bar) % 5 == 0, F.lit(""))
        .otherwise(F.col("l_returnflag"))
        .alias("flag"),
    )
    schema = TableSchema.from_descriptor(
        {
            "fields": [
                {"name": "okey", "type": "integer",
                 "constraints": {"required": True}},
                {"name": "qty", "type": "number"},
                {"name": "flag", "type": "string",
                 "constraints": {"required": True, "enum": ["N", "A", "R"]}},
            ]
        }
    )
    valid, invalid = partition_valid(raw, schema)
    # two-way union + one aggregate, not chained 1-row crossJoins
    # (plan guard). r11 (guide §2.4): the former third branch exploded
    # invalid's __failed_checks into label rows, re-running the whole
    # parse/check lineage a THIRD time just to count two specific
    # labels — partition_valid emits each check's label at most once
    # per row (one when() per compiled check), so array_contains over
    # the invalid branch counts the identical quantity with one fewer
    # pass and no explode.
    nul = F.lit(None).cast("array<string>")
    u = (
        valid.select(F.lit("v").alias("kind"), nul.alias("fc"))
        .unionAll(
            invalid.select(
                F.lit("i").alias("kind"), F.col("__failed_checks").alias("fc")
            )
        )
    )
    return u.agg(
        F.count_if(F.col("kind") == "v").cast(_BIG).alias("n_valid"),
        F.count_if(F.col("kind") == "i").cast(_BIG).alias("n_invalid"),
        F.count_if(
            F.array_contains(F.col("fc"), "qty:type-or-format-error")
        )
        .cast(_BIG)
        .alias("n_bad_qty"),
        F.count_if(
            F.array_contains(F.col("fc"), "flag:required-constraint")
        )
        .cast(_BIG)
        .alias("n_missing_flag"),
    )


# ===================== X7: dataset splitting / packing ====================


@q(
    "x7_splits_pack",
    "SELECT 'split' AS kind, split AS key, n AS n_rows,"
    " min_id AS m1, max_id AS m2, CAST(NULL AS BIGINT) AS m3 FROM ("
    " SELECT CASE"
    " WHEN doc_id IS NULL THEN NULL"
    " WHEN substr(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'"
    " THEN 'train'"
    " WHEN substr(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'"
    " THEN 'val' ELSE 'test' END AS split,"
    " CAST(count(*) AS BIGINT) AS n,"
    " CAST(min(doc_id) AS BIGINT) AS min_id,"
    " CAST(max(doc_id) AS BIGINT) AS max_id"
    " FROM documents GROUP BY 1)"
    " UNION ALL"
    " SELECT 'pack' AS kind, source AS key, n_docs AS n_rows,"
    " n_seqs AS m1, n_straddlers AS m2, sum_tokens AS m3 FROM ("
    " WITH toks AS ("
    " SELECT doc_id, source,"
    " (CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS n_tokens"
    " FROM documents"
    "), seq AS ("
    " SELECT source, n_tokens,"
    " sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum"
    " FROM toks)"
    " SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
    " CAST(max(CASE WHEN n_tokens > 0 THEN (cum - 1) // 512"
    " ELSE (cum - n_tokens) // 512 END) + 1 AS BIGINT) AS n_seqs,"
    " CAST(count(*) FILTER (WHERE n_tokens > 0"
    " AND (cum - 1) // 512 > (cum - n_tokens) // 512) AS BIGINT)"
    " AS n_straddlers,"
    " CAST(sum(n_tokens) AS BIGINT) AS sum_tokens"
    " FROM seq GROUP BY source)",
)
def _x7_splits_pack(spark, sf_dir):
    """X7 dataset splits + sequence packing, merged as LABELED rows
    (r5 — the former x7_hash_split and x7_pack_sequences rows,
    union'd under generic (kind, key, n_rows, m1, m2, m3) columns to
    free registry slots under the 50-row cap; both checks unchanged).

    ``kind='split'`` — deterministic hash split
    (extensions/splits.py::hash_split): the oracle recomputes the SAME
    salted-md5 bucketing in DuckDB — md5 of the utf-8 id string is
    engine-portable by construction, so this checks the exact per-row
    assignment via per-split (count, min_id, max_id) = (n_rows, m1,
    m2); m3 is null.

    ``kind='pack'`` — token-stream sequence packing
    (extensions/splits.py::sequence_offsets): documents laid
    end-to-end per source stream, chunked into 512-token training
    sequences; the oracle re-derives offset/first_seq/last_seq from a
    windowed cumulative sum in ANSI SQL. Per source: (n_docs, n_seqs,
    n_straddlers, sum_tokens) = (n_rows, m1, m2, m3) — sequence
    counts AND straddlers (documents cut by a sequence boundary), the
    exact bookkeeping a concat-then-chunk LM data loader needs."""
    from .extensions import splits as xsplits

    d = t(spark, sf_dir, "documents")
    split_rows = (
        xsplits.hash_split(d, "doc_id", salt="v1")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast(_BIG).alias("n_rows"),
            F.min("doc_id").cast(_BIG).alias("m1"),
            F.max("doc_id").cast(_BIG).alias("m2"),
        )
        .select(
            F.lit("split").alias("kind"), F.col("split").alias("key"),
            "n_rows", "m1", "m2", F.lit(None).cast(_BIG).alias("m3"),
        )
    )

    dt = t(spark, sf_dir, "documents", wide=True).select(
        "doc_id", "source", xtext.token_count(F.col("text")).alias("n_tokens")
    )
    seq = xsplits.sequence_offsets(
        dt, "doc_id", "n_tokens", budget=512, part_col="source"
    )
    pack_rows = (
        seq.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast(_BIG).alias("n_rows"),
            (F.max("last_seq") + 1).cast(_BIG).alias("m1"),
            F.count_if(F.col("last_seq") > F.col("first_seq"))
            .cast(_BIG)
            .alias("m2"),
            F.sum("n_tokens").cast(_BIG).alias("m3"),
        )
        .select(
            F.lit("pack").alias("kind"), F.col("source").alias("key"),
            "n_rows", "m1", "m2", "m3",
        )
    )
    return split_rows.unionByName(pack_rows)


@q(
    "x7_contamination",
    "WITH toks AS ("
    " SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),"
    " '\\s+', ' ', 'g')), ' ') AS w FROM documents),"
    " sh AS ("
    " SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3"
    " THEN list_transform(range(1, len(w) - 1),"
    " i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"
    " ELSE CAST([] AS VARCHAR[]) END) AS s FROM toks),"
    " ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 50 = 0"
    " AND len(s) > 0),"
    " jacc AS ("
    " SELECT co.doc_id AS corpus_id, ev.eval_id,"
    " CAST(len(list_intersect(co.s, ev.s)) AS DOUBLE) /"
    " CAST(len(list_distinct(list_concat(co.s, ev.s))) AS DOUBLE) AS j"
    " FROM sh co JOIN ev ON len(co.s) > 0)"
    " SELECT 'exact' AS kind, CAST(co.doc_id AS BIGINT) AS a,"
    " CAST(ev.eval_id AS BIGINT) AS b,"
    " CAST(len(list_intersect(co.s, ev.s)) AS BIGINT) AS n_matched,"
    " CAST(len(ev.s) AS BIGINT) AS n_eval,"
    " ROUND(CAST(len(list_intersect(co.s, ev.s)) AS DOUBLE)"
    " / CAST(len(ev.s) AS DOUBLE), 6) AS x"
    " FROM sh co JOIN ev ON co.doc_id <> ev.eval_id"
    " WHERE CAST(len(list_intersect(co.s, ev.s)) AS DOUBLE)"
    " / CAST(len(ev.s) AS DOUBLE) >= 0.2"
    " UNION ALL"
    " SELECT 'fuzzy' AS kind,"
    " (SELECT CAST(count(*) AS BIGINT) FROM jacc WHERE j >= 0.5) AS a,"
    " (SELECT CAST(count(*) AS BIGINT) FROM ev) AS b,"
    " CAST(1 AS BIGINT) AS n_matched, CAST(1 AS BIGINT) AS n_eval,"
    " CAST(1.0 AS DOUBLE) AS x",
)
def _x7_contam(spark, sf_dir):
    """X7 eval-set decontamination (extensions/decontam.py), labeled
    rows (r9 merge: + the fuzzy arm):

    - 'exact' rows: the eval 'benchmark' is the doc_id % 50 == 0
      slice of documents, scanned against the full corpus for
      ≥20%-of-eval-doc 3-gram overlap; the oracle recomputes exact
      n-gram intersection with DuckDB list ops. Self-pairs excluded
      (the eval slice is drawn from the corpus). The product path
      broadcasts the eval n-gram set so the corpus side never
      shuffles (map-side join + partial-agg counts).
    - 'fuzzy' summary row (r9, near_contamination_scan — MinHash
      candidates + exact-Jaccard verify at 0.5): a = the exact
      jaccard≥0.5 pair count (DuckDB recomputes it from raw texts —
      the falsifiable recall target; identical self-pairs are
      deterministically caught since identical signatures share
      every band), b = the self-catch count (must equal the eval doc
      count), n_matched = containment (fuzzy ⊆ exact twin, 1/0 —
      the verify step makes precision exact), n_eval = recall == 1
      on this corpus (1/0; LSH here is DETERMINISTIC xxhash64, so
      this is a stable property of the dataset, not a coin flip),
      x = 1.0 sentinel.
    """
    from .extensions import decontam as xdec

    d = t(spark, sf_dir, "documents", wide=True)
    ev = d.where(F.col("doc_id") % 50 == 0)
    # r11: the 'exact' rows (min_ratio=0.2) are BY CONSTRUCTION the
    # ratio-filtered subset of the min_matched=1 scan the fuzzy twin
    # needs, so both consumers derive from ONE builder call.
    # Persisting the frame was tried and REVERTED in r11 (warm noop
    # 8.2 → 11.0 s: the InMemoryRelation fill serialized the two
    # previously-overlapping consumer subtrees). r12 (VERDICT item 6):
    # an EAGER localCheckpoint instead — the scan's ~44k small rows
    # materialize once at build (executor-local, lineage-truncating,
    # released by the ContextCleaner when the plan drops — the
    # pair_components pattern), and both consumers read the
    # checkpoint instead of re-running the corpus n-gram
    # explode+join+agg. Plain lineage sharing could not dedupe them:
    # the exact arm's corpus_id != eval_id filter pushes BELOW the
    # aggregate on its branch only, so the two exchanges stop being
    # canonically equal and ReusedExchange never fires. Measured at
    # sf0.1 (min-of-3, two sessions): noop 3.4-4.5 → ~1.2 s,
    # build+first-noop 6.7-14.9 → 5.7-5.9 s. Values identical — the
    # checkpoint replays the same deterministic rows.
    scan_all = xdec.contamination_scan(
        d, ev, ngram=3, min_matched=1
    ).localCheckpoint(eager=True)
    exact_rows = scan_all.where(
        (F.col("ratio") >= 0.2) & (F.col("corpus_id") != F.col("eval_id"))
    ).select(
        F.lit("exact").alias("kind"),
        F.col("corpus_id").cast(_BIG).alias("a"),
        F.col("eval_id").cast(_BIG).alias("b"),
        F.col("n_matched").cast(_BIG),
        F.col("n_eval").cast(_BIG),
        F.round("ratio", 6).alias("x"),
    )

    # the scan's own persisted candidate frame rides along via
    # attach_persisted; the derived projection needs no persist of its
    # own (single downstream consumer — ADVICE r9)
    fscan = xdec.near_contamination_scan(
        d, ev, threshold=0.5, num_hashes=64, num_bands=16
    )
    fuzzy = fscan.select("corpus_id", "eval_id")
    # exact twin: every (corpus, eval) pair at true jaccard >= 0.5,
    # via the SAME broadcast n-gram equi-join machinery as the exact
    # scan (an all-pairs formulation would plan the nested loop the
    # registry guard forbids): jaccard = matched / (|corpus set| +
    # |eval set| - matched) from the scan's match counts plus one
    # corpus-set-size column
    # value-neutral non-deterministic barrier on n_c (x + 0 ≡ x, the
    # similarity.py::_with_assigned_cid pattern): the twin's
    # tj >= 0.5 filter makes InferFiltersFromConstraints derive
    # isnotnull(n_c), and PushPredicateThroughNonJoin substitutes the
    # WHOLE shingle expression into a Filter below the wide
    # repartition — the corpus re-shingles SERIALLY at the scan and
    # then again in the projection (measured: the twin join 8.1 s
    # with the duplicated serial filter vs 1.6 s with the barrier;
    # plan diff shows the shingle expr inside the pre-exchange
    # Filter).
    sizes = xdedup.hashed_shingle_sets(d, "doc_id", "text", 3).select(
        F.col("id").alias("corpus_id"),
        (
            F.size("s") + F.monotonically_increasing_id() * F.lit(0)
        ).alias("n_c"),
    )
    tj = F.col("n_matched") / (
        F.col("n_c") + F.col("n_eval") - F.col("n_matched")
    )
    twin = (
        scan_all.join(sizes, "corpus_id")
        .where(tj >= 0.5)
        .select("corpus_id", "eval_id")
    )
    j = twin.withColumn("in_e", F.lit(1)).join(
        fuzzy.withColumn("in_f", F.lit(1)), ["corpus_id", "eval_id"],
        "full",
    )
    fuzzy_row = j.agg(
        F.count_if(F.col("in_e").isNotNull()).alias("ne"),
        F.count_if(F.col("in_f").isNotNull() & F.col("in_e").isNull())
        .alias("extra"),
        F.count_if(F.col("in_f").isNotNull() & F.col("in_e").isNotNull())
        .alias("common"),
        F.count_if(
            F.col("in_f").isNotNull()
            & (F.col("corpus_id") == F.col("eval_id"))
        ).alias("self_caught"),
    ).select(
        F.lit("fuzzy").alias("kind"),
        F.col("ne").cast(_BIG).alias("a"),
        F.col("self_caught").cast(_BIG).alias("b"),
        (F.col("extra") == 0).cast(_BIG).alias("n_matched"),
        (F.col("common") == F.col("ne")).cast(_BIG).alias("n_eval"),
        F.lit(1.0).alias("x"),
    )
    return attach_persisted(
        exact_rows.unionByName(fuzzy_row),
        *get_persisted(fscan),
    )


@q(
    "x7_fuzzy_sweep",
    """WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
         '\\s+', ' ', 'g')), ' ') AS w FROM documents),
shc AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
    THEN list_transform(range(1, len(w) - 1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
    ELSE CAST([] AS VARCHAR[]) END) AS s FROM toks),
evw AS (
  SELECT doc_id AS eval_id,
         list_transform(range(1, len(w) + 1),
           i -> CASE WHEN i % ([4, 9, 25][
                      CAST((doc_id % 150) // 50 AS INTEGER) + 1]) = 0
                THEN 'qq' || CAST(i AS VARCHAR) ELSE w[i] END) AS pw
  FROM toks WHERE doc_id % 50 = 0 AND len(w) >= 3),
she AS (
  SELECT eval_id, list_distinct(CASE WHEN len(pw) >= 3
    THEN list_transform(range(1, len(pw) - 1),
         i -> pw[i] || ' ' || pw[i+1] || ' ' || pw[i+2])
    ELSE CAST([] AS VARCHAR[]) END) AS s FROM evw),
jacc AS (
  SELECT c.doc_id AS corpus_id, e.eval_id,
         CAST(len(list_intersect(c.s, e.s)) AS DOUBLE) /
         CAST(len(list_distinct(list_concat(c.s, e.s))) AS DOUBLE) AS j
  FROM shc c JOIN she e ON len(c.s) > 0 AND len(e.s) > 0),
th AS (SELECT * FROM (VALUES ('t010', 0.10), ('t035', 0.35),
                             ('t065', 0.65)) AS v(label, t))
SELECT th.label AS kind,
       CAST(count(*) FILTER (WHERE j >= t) AS BIGINT) AS n_pairs,
       CAST(count(*) FILTER (WHERE j >= t AND corpus_id = eval_id)
            AS BIGINT) AS n_self,
       CAST(sum(CASE WHEN j >= t
                THEN CAST(round(j * 1000000) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sum_j_micro
FROM th CROSS JOIN jacc GROUP BY th.label""",
)
def _x7sweep(spark, sf_dir):
    """X7h fuzzy-decontam threshold S-curve (r11 — VERDICT r10 item 6's
    named best use for the slot freed by the x1+x2_simhash merge).
    The natural corpus has almost no mid-range near-pairs (every
    natural dup sits at J>0.9), so the sweep DESIGNS them: each eval
    doc (doc_id%50==0) is perturbed by replacing every m-th token
    with a fresh token, m cycling {4, 9, 25} by doc — killing every
    3-shingle that covers a replaced token and landing the
    doc-vs-its-perturbation Jaccard in three separated tiers
    (≈0.14 / ≈0.5 / ≈0.79 by the (1-3/m)/(2-(1-3/m)) shingle-survival
    arithmetic, exact value data-dependent).

    ONE :func:`~.extensions.decontam.near_contamination_scan` runs at
    a floor threshold (0.05) under near-exhaustive banding
    (num_bands = num_hashes = 64, r=1 — candidate on ANY shared
    minhash, miss probability (1-J)^64, ≤1e-4 at the lowest tier;
    production keeps the default 16×4 S-curve, this row certifies the
    candidate→exact-verify machinery, not the banding trade), then
    per-threshold rows aggregate the SAME verified pair frame at
    0.10/0.35/0.65: pair count, designed-self-pair count, and the
    exact-Jaccard micro-sum — DuckDB recomputes the perturbation, the
    shingle sets, and every Jaccard from the rules. A verify-step
    bug, a normalization drift between scan and shingle build, or a
    banding miss at any tier breaks the hash."""
    from .extensions.decontam import near_contamination_scan

    d = t(spark, sf_dir, "documents", wide=True)
    w = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
        " ",
    )
    m = F.element_at(
        F.array(F.lit(4), F.lit(9), F.lit(25)),
        ((F.col("doc_id") % 150) / 50).cast("int") + 1,
    )
    perturbed = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size(w)),
            lambda i: F.when(
                i % m == 0, F.concat(F.lit("qq"), i.cast("string"))
            ).otherwise(F.element_at(w, i)),
        ),
        " ",
    )
    ev = (
        d.where((F.col("doc_id") % 50 == 0) & (F.size(w) >= 3))
        .select(F.col("doc_id"), perturbed.alias("etext"))
    )
    sc = near_contamination_scan(
        d,
        ev,
        threshold=0.05,
        num_hashes=64,
        num_bands=64,
        eval_text_col="etext",
    )
    tiers = F.explode(
        F.array(
            F.struct(F.lit(0.10).alias("t"), F.lit("t010").alias("label")),
            F.struct(F.lit(0.35).alias("t"), F.lit("t035").alias("label")),
            F.struct(F.lit(0.65).alias("t"), F.lit("t065").alias("label")),
        )
    )
    ex = sc.select("corpus_id", "eval_id", "jaccard", tiers.alias("th"))
    hit = F.col("jaccard") >= F.col("th.t")
    rows = ex.groupBy(F.col("th.label").alias("kind")).agg(
        F.count_if(hit).cast(_BIG).alias("n_pairs"),
        F.count_if(
            hit & (F.col("corpus_id") == F.col("eval_id"))
        ).cast(_BIG).alias("n_self"),
        F.sum(
            F.when(
                hit,
                F.round(F.col("jaccard") * 1_000_000).cast(_BIG),
            ).otherwise(F.lit(0))
        ).cast(_BIG).alias("sum_j_micro"),
    )
    return attach_persisted(rows, *get_persisted(sc))


@q(
    "x4_hygiene",
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs,"
    " CAST(sum(length(text)) AS BIGINT) AS sum_chars,"
    " min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,"
    " count(*) FILTER (WHERE doc_id % 7 = 0) AS n_email,"
    " count(*) FILTER (WHERE doc_id % 11 = 0) AS n_ipv4,"
    " count(*) FILTER (WHERE doc_id % 13 = 0) AS n_ssn,"
    " count(*) FILTER (WHERE FALSE) AS n_leftover"
    " FROM documents GROUP BY source",
)
def _x4_hygiene(spark, sf_dir):
    """X4 corpus hygiene: boilerplate removal + PII redaction, merged
    per-source (r5 — the former x4_boilerplate and x4_pii rows, joined
    on source to free registry slots for x8_profile/x7_sessions under
    the 50-row cap; both arms' checks are unchanged).

    Boilerplate arm
    (extensions/text.py::remove_boilerplate_lines), self-verifying by
    construction: a banner line is INJECTED at the top of every
    document (so it recurs corpus-wide, far over max_docs), the
    operator strips it, and the oracle is simply the UNTOUCHED
    corpus's per-source stats — count, char volume, and min/max
    md5(text). The md5 bounds make the check byte-exact: any
    over-removal, under-removal, or line-order scrambling in
    reassembly changes a document hash and fails the compare.

    PII arm (extensions/text.py::redact_pii), self-verifying by
    construction: synthetic PII spans are INJECTED into documents by
    modulo rules on doc_id (an email for %7, an IPv4 for %11, an SSN
    for %13 — the raw corpus itself is PII-free, which the all-zero
    pii_counts scan asserts via n_leftover), redact_pii scrubs them,
    and the query counts redaction tokens per source plus any
    UN-redacted leftovers. The oracle recomputes the expected counts
    ARITHMETICALLY from the modulo rules — an independent ground
    truth — and pins leftovers at zero.

    The two arms meet in one hash equi-join on ``source`` (two
    ~|sources|-row aggregates — never a nested loop; plan-guarded like
    every registry entry)."""

    d = t(spark, sf_dir, "documents", wide=True)
    injected_b = d.select("doc_id", "source", "text").withColumn(
        "text", F.concat(F.lit("## injected boilerplate banner ##\n"),
                         F.col("text"))
    )
    cleaned = xtext.remove_boilerplate_lines(injected_b, max_docs=5)
    boiler = cleaned.groupBy("source").agg(
        F.count(F.lit(1)).cast(_BIG).alias("n_docs"),
        F.sum(F.length("text")).cast(_BIG).alias("sum_chars"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
        F.max(F.md5(F.col("text").cast("binary"))).alias("max_md5"),
    )
    injected = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" mail bob"), F.col("doc_id").cast("string"),
                         F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" host 10.0."),
                         (F.col("doc_id") % 200).cast("string"), F.lit(".7")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" ssn 123-45-6789"))
            .otherwise(F.lit("")),
        ),
    )
    red = injected.select(
        "source",
        xtext.redact_pii(
            F.col("text"), kinds=["email", "ipv4", "ssn"]
        ).alias("rt"),
    )
    leftover = xtext.pii_counts(
        F.col("rt"), kinds=["email", "ipv4", "ssn"]
    )
    pii = red.groupBy("source").agg(
        F.sum(F.regexp_count(F.col("rt"), F.lit("<email>"))).cast(_BIG)
        .alias("n_email"),
        F.sum(F.regexp_count(F.col("rt"), F.lit("<ipv4>"))).cast(_BIG)
        .alias("n_ipv4"),
        F.sum(F.regexp_count(F.col("rt"), F.lit("<ssn>"))).cast(_BIG)
        .alias("n_ssn"),
        F.sum(
            leftover["email"] + leftover["ipv4"] + leftover["ssn"]
        ).cast(_BIG).alias("n_leftover"),
    )
    return boiler.join(pii, "source")


@q(
    "x7_temporal",
    "WITH p AS ("
    " SELECT user_id, ts, max(value) AS pval FROM events"
    " WHERE event_type = 'purchase' GROUP BY user_id, ts),"
    " w AS (SELECT user_id, ts AS lo, ts + INTERVAL 1 HOUR AS hi, pval"
    " FROM p)"
    " SELECT 'asof' AS kind, e.event_type,"
    " CAST(count(*) AS BIGINT) AS n_rows,"
    " CAST(count(p.pval) AS BIGINT) AS n_matched,"
    " min(p.pval) AS min_match, max(p.pval) AS max_match,"
    " strftime(max(p.ts), '%Y-%m-%d %H:%M:%S') AS max_match_ts"
    " FROM events e ASOF LEFT JOIN p"
    " ON e.user_id = p.user_id AND e.ts >= p.ts"
    " GROUP BY e.event_type"
    " UNION ALL"
    " SELECT 'range' AS kind, e.event_type,"
    " CAST(count(*) AS BIGINT) AS n_rows,"
    " CAST(count(w.pval) AS BIGINT) AS n_matched,"
    " min(w.pval) AS min_match, max(w.pval) AS max_match,"
    " strftime(max(w.lo), '%Y-%m-%d %H:%M:%S') AS max_match_ts"
    " FROM events e LEFT JOIN w"
    " ON e.user_id = w.user_id AND e.ts >= w.lo AND e.ts <= w.hi"
    " GROUP BY e.event_type",
)
def _x7_temporal(spark, sf_dir):
    """X7 temporal joins (extensions/temporal.py), both checked
    against DuckDB running the NATIVE formulation of the same
    semantics — an independent engine as oracle, the strongest
    check in the registry:

    - 'asof' rows: every event enriched with the user's most recent
      at-or-before purchase via ``asof_join`` (union + window, zero
      join nodes) vs DuckDB's built-in ASOF JOIN.
    - 'range' rows: every event attributed to the 1-hour
      post-purchase window(s) it falls in via ``range_join`` (binned
      equi-join, never a nested loop; bin_width = the 3600 s window
      span, so each interval explodes into ≤ 2 bins) vs DuckDB's
      native inequality join. n_rows counts the joined rows, so
      overlapping windows legitimately multiply — both engines
      count identically.

    Purchases dedupe to one per (user, ts) first (same-instant
    winners are implementation-defined on both engines). min/max
    aggregates keep the compare float-exact (sums would be
    order-dependent)."""
    from .extensions.temporal import asof_join, range_join

    ev = t(spark, sf_dir, "events")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    en = asof_join(ev, purchases, by=["user_id"])
    asof_part = en.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_BIG).alias("n_rows"),
        F.count("pval_right").cast(_BIG).alias("n_matched"),
        F.min("pval_right").alias("min_match"),
        F.max("pval_right").alias("max_match"),
        F.date_format(F.max("ts_right"), "yyyy-MM-dd HH:mm:ss").alias(
            "max_match_ts"
        ),
    ).select(F.lit("asof").alias("kind"), "*")

    windows = purchases.select(
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi"),
        "pval",
    )
    rj = range_join(
        ev, windows, "ts", "lo", "hi", by=["user_id"],
        how="left", bin_width=3600.0,
    )
    range_part = rj.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_BIG).alias("n_rows"),
        F.count("pval_right").cast(_BIG).alias("n_matched"),
        F.min("pval_right").alias("min_match"),
        F.max("pval_right").alias("max_match"),
        F.date_format(F.max("lo_right"), "yyyy-MM-dd HH:mm:ss").alias(
            "max_match_ts"
        ),
    ).select(F.lit("range").alias("kind"), "*")
    return asof_part.unionByName(range_part)


# ===================== X8: table profiling ================================


@q(
    "x8_profile",
    "SELECT * FROM ("
    " SELECT 'l_quantity' AS column, CAST(count(*) AS BIGINT) AS n,"
    " CAST(count(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT) AS n_null,"
    " CAST(count(DISTINCT l_quantity) AS BIGINT) AS exact_distinct,"
    " ROUND(avg(l_quantity), 6) AS mean,"
    " ROUND(stddev_samp(l_quantity), 6) AS stddev,"
    " CAST(min(l_quantity) AS DOUBLE) AS min_v,"
    " CAST(max(l_quantity) AS DOUBLE) AS max_v,"
    " TRUE AS distinct_ok, TRUE AS quantile_ok FROM lineitem"
    " UNION ALL"
    " SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),"
    " CAST(count(*) FILTER (WHERE l_extendedprice IS NULL) AS BIGINT),"
    " CAST(count(DISTINCT l_extendedprice) AS BIGINT),"
    " ROUND(avg(l_extendedprice), 6), ROUND(stddev_samp(l_extendedprice), 6),"
    " CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE),"
    " TRUE, TRUE FROM lineitem"
    " UNION ALL"
    " SELECT 'l_discount', CAST(count(*) AS BIGINT),"
    " CAST(count(*) FILTER (WHERE l_discount IS NULL) AS BIGINT),"
    " CAST(count(DISTINCT l_discount) AS BIGINT),"
    " ROUND(avg(l_discount), 6), ROUND(stddev_samp(l_discount), 6),"
    " CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE),"
    " TRUE, TRUE FROM lineitem"
    " UNION ALL"
    " SELECT 'l_returnflag', CAST(count(*) AS BIGINT),"
    " CAST(count(*) FILTER (WHERE l_returnflag IS NULL) AS BIGINT),"
    " CAST(count(DISTINCT l_returnflag) AS BIGINT),"
    " CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
    " CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
    " TRUE, TRUE FROM lineitem)",
)
def _x8_profile(spark, sf_dir):
    """X8 one-scan table profiling
    (extensions/profiling.py::column_profile): n / n_null / mean /
    stddev / min / max compared VALUE-EXACT against DuckDB (floats
    rounded to 6 decimals — the registry's standard float-sum
    mitigation), plus two FALSIFIABLE invariants for the
    sketch-backed metrics the oracle cannot reproduce:

    - ``distinct_ok``: HyperLogLog++ ``approx_distinct`` within ±15%
      of the EXACT per-column distinct count (3× the sketch's
      documented ~5% rsd — catches a swapped column or a broken
      sketch, not sketch noise). The exact count rides the same
      profile scan as one extra aggregate per column (oracle-only
      machinery; the product path keeps HLL exactly because exact
      distincts don't scale).
    - ``quantile_ok``: the percentile_approx sketch outputs satisfy
      min ≤ p50 ≤ p95 ≤ max for numeric columns and are NULL for
      string columns — catches a mis-wired quantile column without
      demanding cross-engine sketch equality.

    String columns profile to NULL numeric stats on both sides
    (l_returnflag row)."""
    from .extensions.profiling import column_profile

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag"]
    li = t(spark, sf_dir, "lineitem")
    prof = column_profile(li, cols)
    exact = li.agg(
        *[F.count_distinct(F.col(c)).alias(c) for c in cols]
    ).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(c).cast(_BIG).alias("exact_distinct"),
                )
                for c in cols
            ])
        ).alias("e")
    ).select("e.*")
    dist_ok = (
        F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
        <= 0.15 * F.col("exact_distinct")
    )
    quant_ok = F.when(
        F.col("min_v").isNotNull(),
        (F.col("min_v") <= F.col("p50"))
        & (F.col("p50") <= F.col("p95"))
        & (F.col("p95") <= F.col("max_v")),
    ).otherwise(F.col("p50").isNull() & F.col("p95").isNull())
    return prof.join(exact, "column").select(
        "column",
        F.col("n").cast(_BIG).alias("n"),
        F.col("n_null").cast(_BIG).alias("n_null"),
        F.col("exact_distinct"),
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 6).alias("stddev"),
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
        dist_ok.alias("distinct_ok"),
        quant_ok.alias("quantile_ok"),
    )


# ===================== X6b: persisted IVF index serving ===================

#: one built index per sf_dir per process — the registry runner may
#: invoke the query more than once; rebuilding would be wasted jobs
#: (the build itself is deterministic, so reuse changes nothing)
_VECINDEX_DIRS: dict[str, str] = {}


@q(
    "x6_vecindex",
    "SELECT CAST(a.vec_id AS BIGINT) AS query_id,"
    " CAST(b.vec_id AS BIGINT) AS vec_id,"
    " ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])), 6) AS cosine"
    " FROM embeddings a CROSS JOIN embeddings b"
    " WHERE a.vec_id IN (0, 17, 23, 31, 49)"
    " QUALIFY row_number() OVER (PARTITION BY a.vec_id"
    " ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10"
    " UNION ALL"
    " SELECT CAST(a.vec_id AS BIGINT) AS query_id,"
    " CAST(b.vec_id AS BIGINT) AS vec_id,"
    " ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])), 6) AS cosine"
    " FROM embeddings a CROSS JOIN embeddings b"
    " WHERE a.vec_id = 41 AND b.vec_id NOT IN (5, 11, 29)"
    " QUALIFY row_number() OVER (PARTITION BY a.vec_id"
    " ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 10"
    " UNION ALL"
    " SELECT CAST(37 AS BIGINT) AS query_id, b.vec_id,"
    " ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " b.embedding), 6) AS cosine"
    " FROM embeddings a CROSS JOIN ("
    "   SELECT CAST(vec_id AS BIGINT) AS vec_id,"
    "     CASE WHEN vec_id IN (7, 13)"
    "       THEN list_transform(CAST(embedding AS DOUBLE[]), x -> -x)"
    "       ELSE CAST(embedding AS DOUBLE[]) END AS embedding"
    "   FROM embeddings"
    "   UNION ALL"
    "   SELECT CAST(1000001 AS BIGINT), CAST(embedding AS DOUBLE[])"
    "   FROM embeddings WHERE vec_id = 3"
    " ) b"
    " WHERE a.vec_id = 37"
    " QUALIFY row_number() OVER (PARTITION BY a.vec_id"
    " ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    " b.embedding) DESC, b.vec_id) <= 10",
)
def _x6_vecindex(spark, sf_dir):
    """X6b persisted-index serving, driver-verified end-to-end (r7 —
    VERDICT r6 item 5; slot funded by the x5_sessions merge): BUILD an
    IVF index (train → assign → hive-partitioned postings parquet +
    manifest), REOPEN it from disk, and SERVE two top-10 queries with
    ``nprobe = nlist`` — the documented exact-degradation mode, so
    DuckDB's brute-force cosine top-10 over the ORIGINAL embeddings
    table is the independent oracle for the whole
    write→manifest→read→probe→scan chain (ids AND 6-dp scores must
    match; any corruption in the postings roundtrip, centroid
    persistence, or serve-side cosine shows up as a hash mismatch).
    The sublinear serving mode (nprobe < nlist, partition-pruned scan)
    is plan-asserted + recall-tested in test_vecindex; exactness is
    what an oracle can state.

    r8: query 0 serves through the per-query path and query 17
    through :func:`~.extensions.vecindex.ivf_index_topk_batch` (the
    one-job bulk-serving shape, BASELINE.md §ivf-batch-serving).
    r9: query 31 serves through
    :func:`~.extensions.vecindex.ivf_index_topk_batch_distributed`
    (mapInPandas probe selection, no driver collect — the
    past-max_queries scale path), so the same oracle row certifies
    ALL THREE serve paths — ids and 6-dp scores must agree with
    brute force whichever code produced them.

    r10 fourth arm: query 49 serves from a RECLUSTERED copy of the
    index (:func:`~.extensions.vecindex.recluster_ivf_index`,
    nlist 8→5 — retrained centroids, every posting reassigned,
    payloads carried verbatim). At nprobe=nlist exactness is
    centroid-independent, so the SAME brute-force SQL is the oracle:
    any recluster bug that corrupts a payload, drops/duplicates a
    posting, or mis-writes the new layout breaks the hash.

    r10 fifth arm: query 23 serves from a SPLIT copy
    (:func:`~.extensions.vecindex.split_ivf_hot_lists` — the
    incremental maintenance path: largest list re-fit alone, rows
    reassigned among its sub-lists, every other hive partition
    carried forward file-identical). hot_factor derives from the
    manifest so the largest list always qualifies regardless of how
    kmeans balanced this SF's embeddings; at nprobe=nlist the same
    brute-force SQL certifies that the split moved every row to a
    valid list and corrupted none (reuse bugs, dropped/duplicated
    rows, or a bad sub-assignment all break the hash).

    r11 sixth arm: query 41 serves from a copy with vec_ids 5/11/29
    DELETED (:func:`~.extensions.vecindex.delete_from_ivf_index` —
    partition-pruned posting deletion: only the lists holding those
    ids rewrite, the rest carry forward file-identical) plus one
    absent id in the request. The oracle's second block recomputes
    brute force over embeddings EXCLUDING the deleted ids.

    r11 seventh arm: query 37 serves from an UPSERTED copy
    (:func:`~.extensions.vecindex.upsert_into_ivf_index` — the
    re-embedding refresh path: vec_ids 7/13 replaced with their
    NEGATED vectors, an exact fp transform the oracle recomputes with
    list_transform, and a brand-new id 1000001 inserted carrying
    vec 3's embedding — an exact duplicate whose tie the id ORDER
    resolves identically on both sides). The oracle's third block
    recomputes brute force over the CASE-modified + unioned corpus,
    so an upsert bug that leaves a stale payload, double-inserts,
    drops an untouched row, or mis-assigns a moved posting breaks the
    hash. The seven arms together certify build, all three serve
    paths, recluster, split, delete, and upsert against one
    independent SQL."""
    import tempfile

    from .extensions import vecindex as xvi

    e = t(spark, sf_dir, "embeddings")
    idx_dir = _VECINDEX_DIRS.get(sf_dir)
    if idx_dir is None or not os.path.exists(
        os.path.join(idx_dir, "manifest.json")
    ):
        idx_dir = os.path.join(
            tempfile.mkdtemp(prefix="gt_x6_vecindex_"), "idx"
        )
        xvi.write_ivf_index(
            e, idx_dir, id_col="vec_id", vec_col="embedding", nlist=8
        )
        _VECINDEX_DIRS[sf_dir] = idx_dir
    # r11 (guide §2.6): the four DERIVED indexes (recluster / split /
    # delete / upsert) each depend only on the base index and write
    # to disjoint temp dirs, so their builds submit from a thread
    # pool and overlap on the cluster — measured 52 s serial at
    # sf0.1 (20.5 + 11.4 + 10.8 + 9.6), overlapped ≈ the slowest op.
    # Build-once memoization is unchanged; dir registration happens
    # on the main thread after each future resolves.
    def _ensure(tag, prefix, build):
        d = _VECINDEX_DIRS.get(sf_dir + tag)
        if d is not None and os.path.exists(
            os.path.join(d, "manifest.json")
        ):
            return tag, d
        d = os.path.join(tempfile.mkdtemp(prefix=prefix), "idx")
        build(d)
        return tag, d

    def _build_recluster(d):
        xvi.recluster_ivf_index(spark, idx_dir, d, nlist=5)

    def _build_split(d):
        import json as _json

        with open(os.path.join(idx_dir, "manifest.json")) as fh:
            _m = _json.load(fh)
        _sizes = list(_m["list_sizes"].values())
        _mean = sum(_sizes) / len(_sizes)
        xvi.split_ivf_hot_lists(
            spark,
            idx_dir,
            d,
            # just below max/mean: the LARGEST list always qualifies,
            # however kmeans balanced this SF's embeddings
            hot_factor=0.999 * max(_sizes) / _mean,
        )

    def _build_delete(d):
        xvi.delete_from_ivf_index(spark, idx_dir, d, [5, 11, 29, -1])

    def _build_upsert(d):
        refresh = (
            e.where(F.col("vec_id").isin([7, 13]))
            .select(
                "vec_id",
                F.transform("embedding", lambda x: -x).alias(
                    "embedding"
                ),
            )
            .unionByName(
                e.where(F.col("vec_id") == 3).select(
                    F.lit(1000001).cast("long").alias("vec_id"),
                    "embedding",
                )
            )
        )
        xvi.upsert_into_ivf_index(spark, idx_dir, d, refresh)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as _pool:
        for fut in [
            _pool.submit(
                _ensure, "#reclustered", "gt_x6_vecindex_re_",
                _build_recluster,
            ),
            _pool.submit(
                _ensure, "#split", "gt_x6_vecindex_sp_", _build_split
            ),
            _pool.submit(
                _ensure, "#deleted", "gt_x6_vecindex_del_",
                _build_delete,
            ),
            _pool.submit(
                _ensure, "#upserted", "gt_x6_vecindex_up_",
                _build_upsert,
            ),
        ]:
            tag, d = fut.result()
            _VECINDEX_DIRS[sf_dir + tag] = d
    re_dir = _VECINDEX_DIRS[sf_dir + "#reclustered"]
    sp_dir = _VECINDEX_DIRS[sf_dir + "#split"]
    del_dir = _VECINDEX_DIRS[sf_dir + "#deleted"]
    up_dir = _VECINDEX_DIRS[sf_dir + "#upserted"]
    idx = xvi.read_ivf_index(spark, idx_dir)
    re_idx = xvi.read_ivf_index(spark, re_dir)
    sp_idx = xvi.read_ivf_index(spark, sp_dir)
    # ONE driver round-trip for all five query vectors (was five
    # separate first() jobs)
    _qmap = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in e.where(
            F.col("vec_id").isin([0, 23, 37, 41, 49])
        ).collect()
    }
    qv = _qmap[0]
    single = xvi.ivf_index_topk(
        idx, qv, k=10, nprobe=len(idx.centroids)
    ).select(
        F.lit(0).cast(_BIG).alias("query_id"),
        F.col("id").cast(_BIG).alias("vec_id"),
        F.round("cosine", 6).alias("cosine"),
    )
    batch = xvi.ivf_index_topk_batch(
        idx,
        e.where(F.col("vec_id") == 17).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=10,
        nprobe=len(idx.centroids),
    ).select(
        F.col("query_id").cast(_BIG).alias("query_id"),
        F.col("id").cast(_BIG).alias("vec_id"),
        F.round("cosine", 6).alias("cosine"),
    )
    # r9 third arm: the DISTRIBUTED batch path (mapInPandas probe
    # selection, no driver collect) serving query 31 — the oracle now
    # certifies all three serve paths against the same brute-force SQL
    dist = xvi.ivf_index_topk_batch_distributed(
        idx,
        e.where(F.col("vec_id") == 31).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=10,
        nprobe=len(idx.centroids),
    ).select(
        F.col("query_id").cast(_BIG).alias("query_id"),
        F.col("id").cast(_BIG).alias("vec_id"),
        F.round("cosine", 6).alias("cosine"),
    )
    # r10 fourth arm: the reclustered index serving query 49 at
    # nprobe=nlist through the per-query path
    qv49 = _qmap[49]
    recl = xvi.ivf_index_topk(
        re_idx, qv49, k=10, nprobe=len(re_idx.centroids)
    ).select(
        F.lit(49).cast(_BIG).alias("query_id"),
        F.col("id").cast(_BIG).alias("vec_id"),
        F.round("cosine", 6).alias("cosine"),
    )
    # r10 fifth arm: the split index serving query 23 at nprobe=nlist
    qv23 = _qmap[23]
    split = xvi.ivf_index_topk(
        sp_idx, qv23, k=10, nprobe=len(sp_idx.centroids)
    ).select(
        F.lit(23).cast(_BIG).alias("query_id"),
        F.col("id").cast(_BIG).alias("vec_id"),
        F.round("cosine", 6).alias("cosine"),
    )
    # r11 sixth arm: query 41 serves from a DELETED copy
    # (delete_from_ivf_index removes vec_ids 5/11/29 — only their
    # lists rewrite, the rest hardlink forward — plus one absent id to
    # exercise the partial-match accounting). The oracle's sixth block
    # recomputes brute force over the SURVIVING embeddings, so a
    # delete bug that leaves a deleted row serveable, drops a
    # survivor, or corrupts a carried payload breaks the hash.
    del_idx = xvi.read_ivf_index(spark, del_dir)
    qv41 = _qmap[41]
    deleted = xvi.ivf_index_topk(
        del_idx, qv41, k=10, nprobe=len(del_idx.centroids)
    ).select(
        F.lit(41).cast(_BIG).alias("query_id"),
        F.col("id").cast(_BIG).alias("vec_id"),
        F.round("cosine", 6).alias("cosine"),
    )
    # r11 seventh arm: query 37 serves from an UPSERTED copy — vec_ids
    # 7/13 refreshed with their negated vectors (moved lists), id
    # 1000001 inserted with vec 3's embedding (exact-duplicate tie,
    # id-ordered identically on both sides). Exactness at nprobe=nlist
    # makes the CASE-modified brute-force SQL the oracle for the whole
    # assign→compare→touched-rewrite→carry chain.
    up_idx = xvi.read_ivf_index(spark, up_dir)
    qv37 = _qmap[37]
    upserted = xvi.ivf_index_topk(
        up_idx, qv37, k=10, nprobe=len(up_idx.centroids)
    ).select(
        F.lit(37).cast(_BIG).alias("query_id"),
        F.col("id").cast(_BIG).alias("vec_id"),
        F.round("cosine", 6).alias("cosine"),
    )
    return (
        single.unionByName(batch)
        .unionByName(dist)
        .unionByName(recl)
        .unionByName(split)
        .unionByName(deleted)
        .unionByName(upserted)
    )


# ===================== X2c: exact-substring span dedup ====================


@q(
    "x2_dup_spans",
    """WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
wins AS (
  SELECT doc_id, CAST(u.s AS BIGINT) AS start,
         array_to_string(w[u.s+1 : u.s+20], ' ') AS wstr
  FROM toks, UNNEST(range(0, greatest(len(w) - 20 + 1, 0))) AS u(s)),
hot AS (SELECT wstr FROM wins GROUP BY wstr HAVING count(*) >= 2),
occ AS (SELECT doc_id, start FROM wins WHERE wstr IN (SELECT wstr FROM hot)),
isl AS (
  SELECT doc_id, start,
         CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
                   OR start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 20
              THEN 1 ELSE 0 END AS brk
  FROM occ),
grp AS (
  SELECT doc_id, start,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS g
  FROM isl)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min(start) AS BIGINT) AS span_start,
       CAST(max(start) + 20 AS BIGINT) AS span_end
FROM grp GROUP BY doc_id, g""",
)
def _x2sp(spark, sf_dir):
    """X2c ExactSubstr-style span dedup (Lee et al., arXiv:2107.06499)
    at k=20 whitespace tokens, corpus-scope occurrence counting: every
    maximal duplicated token span per document, value-hashed against
    DuckDB's independent window-string formulation (the Spark path
    counts xxhash64'd windows first and re-verifies candidates on
    exact strings — extensions/spans.py; the oracle counts strings
    directly, so a hash-phase bug OR a collision mishandling breaks
    the row). Output is exact integer token coordinates.

    Perf posture: per-token hashes materialized once per doc, window
    hashes are k array lookups inside the row, the explode carries
    (id, start, whash) only, the hash count has map-side combine,
    token arrays re-ship only for candidate docs, interval merge is
    one shuffle on the doc id — plan-guard-tested (no nested loop,
    all equi-joins)."""
    from .extensions import spans as xspans

    d = t(spark, sf_dir, "documents", wide=True)
    return xspans.dup_spans(d, k=20).select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        "span_start",
        "span_end",
    )


# ===================== X4d: CCNet-style unigram LM quality ================


@q(
    "x4_ccnet_quality",
    """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM docs WHERE text IS NOT NULL AND trim(text) <> ''),
freq AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
scored AS (
  SELECT doc_id,
         CAST(floor((ln((SELECT n FROM tot)) - ln(CAST(c AS DOUBLE))) * 1000 + 0.5)
              AS BIGINT) AS m
  FROM toks JOIN freq USING (token)),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(m) AS BIGINT) AS xent_milli
  FROM scored GROUP BY doc_id)
SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens, p.xent_milli
FROM docs d LEFT JOIN per p USING (doc_id)""",
)
def _x4cc(spark, sf_dir):
    """X4d unigram LM quality scores (CCNet-style, arXiv:1911.00359 —
    the KenLM perplexity signal's Spark-native unigram proxy),
    self-trained on the corpus in the same job: per-doc token count
    and EXACT integer milli-nat cross-entropy sum, value-hashed
    against DuckDB recomputing the whole model independently.
    Integer milli-nat summation makes the float-free of
    order-dependence (the reason the row can hash-match at all);
    ln() of exact integer counts agrees across engines' libm to
    far below the 0.5 milli rounding step.

    Perf posture: Zipf-skew-immune two-path token join (broadcast
    head vocabulary resolves the skewed mass map-side; only rare-token
    occurrences shuffle), map-side-combined frequency count, one
    per-doc rollup — extensions/text.py::unigram_logprob."""
    d = t(spark, sf_dir, "documents", wide=True)
    return xtext.unigram_logprob(d).select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        "n_tokens",
        "xent_milli",
    )


# ===================== X7d: DSIR importance weights =======================


@q(
    "x7_dsir",
    """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(text) AS t, lang FROM documents),
toks AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(t), '\\s+') AS w
  FROM docs WHERE t IS NOT NULL AND trim(t) <> ''),
feats AS (
  SELECT doc_id, lang, u.g FROM toks, UNNEST(w) AS u(g)
  UNION ALL
  SELECT doc_id, lang, w[CAST(u.i AS BIGINT)] || ' ' || w[CAST(u.i AS BIGINT) + 1] AS g
  FROM toks, UNNEST(range(1, len(w))) AS u(i)),
fb AS (
  SELECT doc_id, lang,
         CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % 1000 AS BIGINT) AS bucket
  FROM feats),
tgt AS (SELECT bucket, count(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
raw AS (SELECT bucket, count(*) AS cr FROM fb GROUP BY 1),
nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS v FROM tgt),
nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS v FROM raw),
model AS (
  SELECT r.bucket,
         CAST(floor((ln(CAST(coalesce(t.ct, 0) AS DOUBLE) + 1.0)
                     - ln((SELECT v FROM nt) + 1000)
                     - ln(CAST(r.cr AS DOUBLE) + 1.0)
                     + ln((SELECT v FROM nr) + 1000)) * 1000 + 0.5) AS BIGINT) AS m
  FROM raw r LEFT JOIN tgt t USING (bucket)),
per AS (
  SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(m) AS BIGINT) AS logw_milli
  FROM fb JOIN model USING (bucket) GROUP BY 1)
SELECT d.doc_id, coalesce(p.n_feats, 0) AS n_feats, p.logw_milli
FROM docs d LEFT JOIN per p USING (doc_id)""",
)
def _x7dsir(spark, sf_dir):
    """X7d DSIR importance weights (Xie et al., arXiv:2302.03169):
    hashed uni+bigram bag features (engine-portable md5 buckets,
    B=1000), target = the corpus's lang='en' slice, raw = the full
    corpus, Laplace +1 — per-doc log importance weights in EXACT
    integer milli-nats, value-hashed against DuckDB recomputing the
    entire model (featurization, both multinomials, the log-ratio
    table, and the per-doc sums) independently.

    Perf posture: the fitted model is <= num_buckets rows BY
    CONSTRUCTION (feature hashing's point) and broadcast to the
    scoring join, so the Zipf-skewed bucket ids never shuffle;
    fits are one explode + map-side-combined groupBy each —
    extensions/dsir.py."""
    from .extensions import dsir as xdsir

    d = t(spark, sf_dir, "documents", wide=True)
    target = d.where(F.col("lang") == "en")
    return xdsir.dsir_logweights(d, target, num_buckets=1000).select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        "n_feats",
        "logw_milli",
    )


@q(
    "x4_lm_bigram",
    """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(text) AS t FROM documents),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(t), '\\s+') AS w
  FROM docs WHERE t IS NOT NULL AND trim(t) <> ''),
pairs AS (
  SELECT doc_id,
         CASE WHEN u.i = 1 THEN NULL
              ELSE w[CAST(u.i AS BIGINT) - 1] END AS prev,
         w[CAST(u.i AS BIGINT)] AS cur
  FROM toks, UNNEST(range(1, len(w) + 1)) AS u(i)),
uni AS (SELECT cur AS token, count(*) AS c FROM pairs GROUP BY cur),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
bi AS (SELECT prev, cur, count(*) AS c2 FROM pairs
       WHERE prev IS NOT NULL GROUP BY prev, cur),
scored AS (
  SELECT p.doc_id,
         CAST(floor((CASE
           WHEN p.prev IS NULL
             THEN ln((SELECT n FROM tot)) - ln(CAST(uc.c AS DOUBLE))
           ELSE ln(CAST(up.c AS DOUBLE)) - ln(CAST(b.c2 AS DOUBLE))
         END) * 1000 + 0.5) AS BIGINT) AS m
  FROM pairs p
  JOIN uni uc ON p.cur = uc.token
  LEFT JOIN uni up ON p.prev = up.token
  LEFT JOIN bi b ON p.prev = b.prev AND p.cur = b.cur),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(m) AS BIGINT) AS xent_milli
  FROM scored GROUP BY doc_id)
SELECT d.doc_id, COALESCE(p2.n_tokens, 0) AS n_tokens, p2.xent_milli
FROM docs d LEFT JOIN per p2 USING (doc_id)""",
)
def _x4bg(spark, sf_dir):
    """X4e bigram LM quality (stupid backoff, Brants et al. 2007 —
    the conditional-LM upgrade of x4_ccnet_quality, one order closer
    to CCNet's KenLM signal), self-trained: per-doc token count and
    exact integer milli-nat bigram cross-entropy, value-hashed
    against DuckDB recomputing the whole model. Self-training makes
    the backoff branch dead by construction (every adjacent pair was
    counted), so the oracle needs no backoff arm — the backoff path
    is unit-tested with external count tables (test_extensions).

    Perf posture: three Zipf-skew-immune two-path joins (broadcast
    count heads absorb the skewed mass; only rare keys shuffle),
    persisted count tables — extensions/text.py::bigram_logprob.
    Registry slot from merging c1_required into
    c1_c3_c4_constraints."""
    d = t(spark, sf_dir, "documents", wide=True)
    return xtext.bigram_logprob(d).select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        "n_tokens",
        "xent_milli",
    )


# ===================== X7e: URL curation ==================================


def _urls_oracle() -> str:
    """DuckDB twin of extensions/web.py's URL-curation path over a
    SYNTHETIC url column (the bundled testdata has no URL column —
    VERDICT r5 item 4; the modulo rule covers every branch: suffix-
    blocked subdomain, multi-label ccTLD suffix, malformed URL, IP
    host, trailing-dot FQDN, blocked-entry-as-URL, plain 2-label
    host). Host extraction / suffix blocking / registered-domain are
    recomputed INDEPENDENTLY with DuckDB string functions (regexp
    host capture, LIKE suffix match, label slicing) — only the
    CC_SLDS table is shared (imported so the suffix sets cannot
    drift), mirroring the _LANG_PROFILES precedent."""
    from .extensions.web import CC_SLDS

    slds = ", ".join(f"'{s}'" for s in CC_SLDS)
    return f"""WITH u AS (
  SELECT doc_id,
    CASE CAST(doc_id % 10 AS INTEGER)
      WHEN 0 THEN 'https://www.evil.example.com/p/' || doc_id
      WHEN 1 THEN 'https://news.site.co.uk/a' || doc_id
      WHEN 2 THEN 'not a url at all'
      WHEN 3 THEN 'https://192.168.0.1/x'
      WHEN 4 THEN 'https://blog.' || source || '.example-cdn.com./post'
      WHEN 5 THEN 'https://api.tracker.io/t' || doc_id
      ELSE 'https://' || source || '.org/doc/' || doc_id
    END AS url
  FROM documents),
h AS (
  SELECT doc_id, url,
    regexp_replace(lower(nullif(regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '')), '\\.$', '') AS host
  FROM u),
blk AS (SELECT unnest(['evil.example.com', 'malware.bad.net',
                       'tracker.io']) AS b),
kept AS (
  SELECT h.* FROM h
  WHERE host IS NULL
     OR NOT EXISTS (SELECT 1 FROM blk
                    WHERE h.host = blk.b OR h.host LIKE '%.' || blk.b)),
dom AS (
  SELECT CASE
      WHEN host IS NULL OR regexp_matches(host, '^[0-9.]+$')
           OR len(string_split(host, '.')) <= 2 THEN host
      WHEN list_contains([{slds}],
                         regexp_extract(host, '([^.]+\\.[^.]+)$', 1))
        THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
      ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
    END AS domain
  FROM kept)
SELECT 'domain' AS kind, domain, CAST(count(*) AS BIGINT) AS n
FROM dom GROUP BY domain
UNION ALL
SELECT 'blocked' AS kind, CAST(NULL AS VARCHAR) AS domain,
  CAST((SELECT count(*) FROM h) - (SELECT count(*) FROM kept) AS BIGINT)
  AS n"""


@q("x7_urls", _urls_oracle())
def _x7urls(spark, sf_dir):
    """X7e URL curation (extensions/web.py), labeled rows over a
    synthetic url column built by modulo rule from documents
    (registry slot funded by the r6 x4_langid→x4_text_profile merge):

    - 'domain' rows: registered-domain rollup of the corpus AFTER
      blocklist filtering (url_host fail-soft parse → trailing-dot
      strip → CC_SLDS-aware registrable domain → one map-side-
      combinable groupBy). Covers: null domain (malformed URL kept),
      IP passthrough, ccTLD last-3 ('site.co.uk'), trailing-dot FQDN
      normalization, plain 2-label hosts.
    - 'blocked' row: how many rows filter_blocked_domains removed —
      entry forms exercised: bare host (suffix-blocks the www.
      subdomain), full URL (URLhaus form, matches nothing in the
      corpus), mixed-case + trailing dot ('Tracker.IO.' blocks
      api.tracker.io).

    Perf posture: blocking is an exploded dot-suffix EQUI-join
    against the broadcast entry set (never an endswith nested loop),
    then a broadcast anti-join on the matched url VALUES; the rollup
    is map-only + one combinable aggregate. The 'blocked' count is an
    anti-join of the corpus against the kept ids — NOT a crossJoin of
    two scalar aggregates, which the registry plan guard forbids as a
    CartesianProduct (caught by test_plans in r6). ``kept`` is
    consumed by two jobs over a map-only synthetic lineage —
    re-running the scan is cheaper than persisting it at any scale."""
    from .extensions import web as xweb

    d = t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 10).cast("int")
    u = d.select(
        "doc_id",
        F.when(m == 0, F.concat(
            F.lit("https://www.evil.example.com/p/"), F.col("doc_id")))
        .when(m == 1, F.concat(
            F.lit("https://news.site.co.uk/a"), F.col("doc_id")))
        .when(m == 2, F.lit("not a url at all"))
        .when(m == 3, F.lit("https://192.168.0.1/x"))
        .when(m == 4, F.concat(
            F.lit("https://blog."), F.col("source"),
            F.lit(".example-cdn.com./post")))
        .when(m == 5, F.concat(
            F.lit("https://api.tracker.io/t"), F.col("doc_id")))
        .otherwise(F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".org/doc/"), F.col("doc_id")))
        .alias("url"),
    )
    blocklist = [
        "evil.example.com",
        "https://malware.bad.net/payload",
        "Tracker.IO.",
    ]
    kept = xweb.filter_blocked_domains(u, blocklist, "url")
    doms = xweb.domain_counts(kept).select(
        F.lit("domain").alias("kind"),
        "domain",
        F.col("n_docs").cast(_BIG).alias("n"),
    )
    summary = (
        u.join(kept.select("doc_id"), "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("k"))
        .select(
            F.lit("blocked").alias("kind"),
            F.lit(None).cast("string").alias("domain"),
            F.col("k").cast(_BIG).alias("n"),
        )
    )
    return doms.unionByName(summary)


# ============ X7f: token-budget curation (r9 oracle row, VERDICT r8 #1) ====


@q(
    "x7_token_budget",
    """WITH t AS (
  SELECT doc_id, source,
         (doc_id * 2654435761) % 1000000007 AS score,
         length(text) AS n_tokens
  FROM documents),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY score DESC
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t),
g AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY score DESC
                             ROWS UNBOUNDED PRECEDING) AS cum,
         (SUM(n_tokens) OVER (PARTITION BY source) * 2) // 10 AS b
  FROM t)
SELECT 'budget30' AS kind, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM c WHERE cum <= (SELECT (total * 3) // 10 FROM tot)
UNION ALL
SELECT 'budget70' AS kind, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM c WHERE cum <= (SELECT (total * 7) // 10 FROM tot)
UNION ALL
SELECT 'by_20pct' AS kind, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM g WHERE cum <= b""",
)
def _x7tb(spark, sf_dir):
    """X7f select_token_budget / select_token_budget_by (r9 — the
    driver-certified oracle row VERDICT r8 flagged as the round's
    lead gap; slot funded by the p9_p10+p12_p13 merge).

    The operator's whole point is computing the greedy best-scores
    prefix WITHOUT the global sort DuckDB's twin runs (``ORDER BY
    score DESC`` + running sum — at 100 TB that window is the single
    largest shuffle in a curation pipeline): a bucket-histogram
    threshold search (two agg scans) plus an exact window over ONLY
    the boundary bucket, plan-asserted free of RangePartitioning in
    test_splits. This row certifies the two plans agree VALUE-exactly.

    Scores are a bijective mix of doc_id (``doc_id * 2654435761 mod
    1000000007`` — injective for doc_id < 1e9, exact in a double),
    so ties are impossible and the salted-hash tiebreak (not
    SQL-expressible) never fires; tokens = length(text). Labeled
    rows: 'budget30'/'budget70' = global selection at 30%/70% of
    total tokens (integer floor both sides); 'by_20pct' = the per-
    group arm at 20% of each source's tokens (every group over-budget
    by construction, so every group exercises its boundary bucket).
    Each row pins (n_docs, sum_tokens, sum_ids) — sum_ids identifies
    the selected SET, not just its size."""
    from .extensions.splits import select_token_budget, select_token_budget_by

    d = t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007))
        .cast("double")
        .alias("score"),
        F.length("text").cast("long").alias("n_tokens"),
    )
    total = scored.agg(F.sum("n_tokens").alias("t")).collect()[0]["t"]

    def summarize(sel: DataFrame, label: str) -> DataFrame:
        return sel.agg(
            F.lit(label).alias("kind"),
            F.count(F.lit(1)).cast(_BIG).alias("n_docs"),
            F.sum("n_tokens").cast(_BIG).alias("sum_tokens"),
            F.sum("doc_id").cast(_BIG).alias("sum_ids"),
        )

    b30 = summarize(
        select_token_budget(scored, (total * 3) // 10, buckets=512),
        "budget30",
    )
    b70 = summarize(
        select_token_budget(scored, (total * 7) // 10, buckets=512),
        "budget70",
    )
    group_totals = {
        r["source"]: r["t"]
        for r in scored.groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    budgets = {g: (tot * 2) // 10 for g, tot in group_totals.items()}
    by20 = summarize(
        select_token_budget_by(scored, budgets, by="source", buckets=128),
        "by_20pct",
    )
    return b30.unionByName(b70).unionByName(by20)


# ============ X9: versioned-release sink (r9 oracle row, VERDICT r8 #1) ====


@q(
    "x9_release",
    """WITH d AS (SELECT doc_id, source, text FROM documents),
chg AS (SELECT doc_id FROM d WHERE source = 'src3' AND doc_id % 3 = 0),
rem AS (SELECT doc_id FROM d WHERE source = 'src3' AND doc_id % 3 = 1),
add_ AS (SELECT doc_id + 1000000 AS doc_id FROM d
         WHERE source = 'src3' AND doc_id % 3 = 2)
SELECT 'added' AS kind, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM add_
UNION ALL
SELECT 'changed' AS kind, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM chg
UNION ALL
SELECT 'removed' AS kind, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM rem
UNION ALL
SELECT 'reused' AS kind,
       CAST(count(DISTINCT source) - 1 AS BIGINT) AS n,
       CAST(NULL AS BIGINT) AS sum_ids FROM d
UNION ALL
SELECT 'v2_rows' AS kind,
       (SELECT CAST(count(*) AS BIGINT) FROM d)
         - (SELECT count(*) FROM rem) + (SELECT count(*) FROM add_) AS n,
       (SELECT CAST(sum(doc_id) AS BIGINT) FROM d)
         - COALESCE((SELECT sum(doc_id) FROM rem), 0)
         + COALESCE((SELECT sum(doc_id) FROM add_), 0) AS sum_ids
UNION ALL
SELECT 'merge_changed' AS kind, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM d WHERE source = 'src5' AND doc_id % 2 = 0
UNION ALL
SELECT 'merge_removed' AS kind, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM d WHERE source = 'src5' AND doc_id % 2 = 1
UNION ALL
SELECT 'merge_reused' AS kind,
       CAST(count(DISTINCT source) - 1 AS BIGINT) AS n,
       CAST(NULL AS BIGINT) AS sum_ids FROM d
UNION ALL
SELECT 'v4_rows' AS kind,
       (SELECT CAST(count(*) AS BIGINT) FROM d)
         - (SELECT count(*) FROM rem) + (SELECT count(*) FROM add_)
         - (SELECT count(*) FROM d
            WHERE source = 'src5' AND doc_id % 2 = 1) AS n,
       (SELECT CAST(sum(doc_id) AS BIGINT) FROM d)
         - COALESCE((SELECT sum(doc_id) FROM rem), 0)
         + COALESCE((SELECT sum(doc_id) FROM add_), 0)
         - COALESCE((SELECT sum(doc_id) FROM d
                     WHERE source = 'src5' AND doc_id % 2 = 1), 0)
         AS sum_ids""",
)
def _x9rel(spark, sf_dir):
    """X9 versioned-release sink end-to-end (r9 — the second oracle
    row VERDICT r8 item 1 asked for; slot funded by the
    x2_pair_checks+x2_minhash_dedup merge): publish v1 of documents
    partitioned by source, mutate EXACTLY one partition ('src3':
    doc_id%3==0 rows changed, %3==1 removed, %3==2 cloned to new ids
    +1e6), publish v2 via write_release_increment, then certify
    release_changes(v1→v2) and read_release(v2) against DuckDB
    computing the same diff from the mutation rule directly.

    Labeled rows (kind, n, sum_ids — sum_ids pins the row SET):
    'added'/'changed'/'removed' = the changes feed per status;
    'reused' = incremental-manifest reused-partition count (must be
    every partition but 'src3' — proving untouched partitions were
    hardlinked forward, cost ∝ the change, not the corpus);
    'v2_rows' = read_release row count + id sum (the published corpus
    equals old − removed + added; changed rows keep their ids).

    r9 second act, same oracle row: v2 → v3 via write_release_merge
    (key-based upsert revising src5's EVEN ids in place and deleting
    its odd ids — only src5 rewrites, 'merge_reused' pins the other
    19 partitions hardlinked), certified through the same pruned
    changes feed ('merge_changed'/'merge_removed'); then v3 → v4 via
    compact_release_version (content-neutral by fingerprint proof)
    with 'v4_rows' pinning the corpus read back from CURRENT after
    the whole publish→increment→merge→compact lifecycle.

    The diff itself reads ONLY the changed partition on both sides
    (fingerprint-pruned — release_changes compares manifest
    fingerprints driver-side and filters both scans to 'src3'), and
    the status spine joins via broadcast equi-join so all-empty
    statuses still emit a (0, NULL) row like the SQL twin."""
    import tempfile

    from .extensions.pipeline import (
        read_release,
        release_changes,
        write_release_increment,
        write_release_version,
    )

    root = tempfile.mkdtemp(prefix="gt_x9_release_")
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    write_release_version(d, root, split_col="source")

    in_s3 = F.col("source") == "src3"
    mod = F.col("doc_id") % 3
    kept = d.where(~in_s3 | (mod != 1))
    changed = F.when(
        in_s3 & (mod == 0), F.concat(F.col("text"), F.lit("!?"))
    ).otherwise(F.col("text"))
    base2 = kept.withColumn("text", changed)
    added = d.where(in_s3 & (mod == 2)).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        "source",
        F.concat(F.lit("new"), F.col("doc_id").cast("string")).alias("text"),
    )
    man2 = write_release_increment(
        base2.unionByName(added), root, split_col="source"
    )

    feed = release_changes(spark, root, id_col="doc_id")
    counts = feed.groupBy(F.col("status").alias("kind")).agg(
        F.count(F.lit(1)).cast(_BIG).alias("n_got"),
        F.sum("doc_id").cast(_BIG).alias("sum_ids"),
    )
    spine = spark.createDataFrame(
        [("added",), ("changed",), ("removed",)], "kind string"
    )
    statuses = spine.join(counts, "kind", "left").select(
        "kind",
        F.coalesce(F.col("n_got"), F.lit(0)).cast(_BIG).alias("n"),
        F.col("sum_ids"),
    )

    v2_df, _ = read_release(spark, root)
    v2_row = v2_df.agg(
        F.lit("v2_rows").alias("kind"),
        F.count(F.lit(1)).cast(_BIG).alias("n"),
        F.sum("doc_id").cast(_BIG).alias("sum_ids"),
    )
    reused_row = spark.createDataFrame(
        [("reused", len(man2["incremental"]["reused"]), None)],
        "kind string, n bigint, sum_ids bigint",
    )

    # r9 second act: MERGE v2 -> v3 (revise src5's even ids in place,
    # delete its odd ids — key-based upsert rewriting ONLY src5),
    # certified through the same changes feed; then COMPACT v3 -> v4
    # (content-neutral by fingerprint proof) and read CURRENT back.
    from .extensions.pipeline import (
        compact_release_version,
        write_release_merge,
    )

    in_s5 = F.col("source") == "src5"
    even = F.col("doc_id") % 2 == 0
    upd = v2_df.where(in_s5 & even).withColumn(
        "text", F.concat(F.col("text"), F.lit("~"))
    )
    dels = v2_df.where(in_s5 & ~even).select("doc_id", "source")
    man3 = write_release_merge(
        upd, root, id_col="doc_id", split_col="source", deletes=dels
    )
    feed2 = release_changes(
        spark,
        root,
        from_version=man2["version"],
        to_version=man3["version"],
        id_col="doc_id",
    )
    mcounts = feed2.groupBy(F.col("status")).agg(
        F.count(F.lit(1)).cast(_BIG).alias("n_got"),
        F.sum("doc_id").cast(_BIG).alias("sum_ids"),
    )
    mspine = spark.createDataFrame(
        [("changed", "merge_changed"), ("removed", "merge_removed")],
        "status string, kind string",
    )
    merge_rows = mspine.join(mcounts, "status", "left").select(
        "kind",
        F.coalesce(F.col("n_got"), F.lit(0)).cast(_BIG).alias("n"),
        F.col("sum_ids"),
    )
    merge_reused = spark.createDataFrame(
        [("merge_reused", len(man3["incremental"]["reused"]), None)],
        "kind string, n bigint, sum_ids bigint",
    )
    compact_release_version(spark, root)
    v4_df, _ = read_release(spark, root)
    v4_row = v4_df.agg(
        F.lit("v4_rows").alias("kind"),
        F.count(F.lit(1)).cast(_BIG).alias("n"),
        F.sum("doc_id").cast(_BIG).alias("sum_ids"),
    )
    return (
        statuses.unionByName(reused_row)
        .unionByName(v2_row)
        .unionByName(merge_rows)
        .unionByName(merge_reused)
        .unionByName(v4_row)
    )


@q(
    "x9_history",
    """WITH d AS (SELECT doc_id, source, text FROM documents
                  WHERE source IN ('src1','src2','src4')),
app AS (SELECT doc_id + 2000000 AS doc_id FROM d WHERE source = 'src2'),
del AS (SELECT doc_id FROM d WHERE source = 'src4' AND doc_id % 8 = 4)
SELECT 'history' AS kind, 'v00000001:full:-' AS label,
       (SELECT CAST(count(*) AS BIGINT) FROM d) AS n,
       CAST(0 AS BIGINT) AS flag
UNION ALL
SELECT 'history', 'v00000002:append:v00000001',
       (SELECT count(*) FROM d) + (SELECT count(*) FROM app), 0
UNION ALL
SELECT 'history', 'v00000003:merge:v00000002',
       (SELECT count(*) FROM d) + (SELECT count(*) FROM app)
         - (SELECT count(*) FROM del), 1
UNION ALL
SELECT 'diff', 'added', (SELECT count(*) FROM app), CAST(NULL AS BIGINT)
UNION ALL
SELECT 'diff', 'changed', 0, CAST(NULL AS BIGINT)
UNION ALL
SELECT 'diff', 'removed', (SELECT count(*) FROM del), CAST(NULL AS BIGINT)
UNION ALL
SELECT 'diff', 'unchanged',
       (SELECT count(*) FROM d) - (SELECT count(*) FROM del),
       CAST(NULL AS BIGINT)""",
)
def _x9hist(spark, sf_dir):
    """X9b release audit surfaces (r10 — slot funded by the
    c1_c3_c4+c5_c6 merge, VERDICT r9 item 5a): build a 3-version
    chain (full publish → append → key-delete merge) on a 3-source
    slice and certify the two READ-side audit tools against DuckDB
    recomputing the chain from the mutation rules:

    - 'history' rows: one per version from release_history — label
      packs version:kind:base_version, n is the manifest row count,
      flag the CURRENT marker. Any wrong manifest count, mislabeled
      publish kind, broken base lineage, or pointer mismatch breaks
      the hash.
    - 'diff' rows: release_diff_summary(v1 → v3) status counts over
      the full 4-status spine — added = the appended clones,
      removed = the merge-deleted src4 ids (doc_id%8==4 — the
      generator interleaves doc_id mod #sources, so src4 holds only
      even ids and a %2 predicate would select nothing), changed = 0
      (no
      update rows in this chain), unchanged = the rest.

    The chain is tiny by construction (75 docs) — this row certifies
    AUDIT correctness; x9_release certifies the publish machinery at
    corpus scale."""
    import tempfile

    from .extensions.pipeline import (
        read_release,
        release_diff_summary,
        release_history,
        write_release_append,
        write_release_merge,
        write_release_version,
    )

    root = tempfile.mkdtemp(prefix="gt_x9_history_")
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).where(F.col("source").isin("src1", "src2", "src4"))
    # the +2,000,000 append offset below is mirrored LITERALLY in the
    # oracle SQL, so it cannot be derived from data at runtime — guard
    # the collision instead: if documents ever grows past 2M ids the
    # appended clones would collide with existing ids and the
    # added/unchanged arithmetic silently diverges (ADVICE r10). The
    # max rides the v1 publish job as an Observation — zero extra
    # scans on this benched query (r11 review fix).
    from pyspark.sql import Observation as _Obs

    obs = _Obs()
    write_release_version(
        d.observe(obs, F.max("doc_id").alias("max_id")),
        root,
        split_col="source",
    )
    max_id = obs.get.get("max_id")
    if max_id is not None and int(max_id) >= 2_000_000:
        raise ValueError(
            f"x9_history: max doc_id {max_id} >= 2,000,000 — the "
            "append-offset constant collides; raise the offset in "
            "BOTH the query and its oracle SQL"
        )
    app = d.where(F.col("source") == "src2").select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        "source",
        F.concat(F.lit("app"), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    write_release_append(app, root, split_col="source")
    dels = d.where(
        (F.col("source") == "src4") & (F.col("doc_id") % 8 == 4)
    ).select("doc_id", "source")
    empty_updates = spark.createDataFrame([], d.schema)
    write_release_merge(
        empty_updates, root, id_col="doc_id", split_col="source",
        deletes=dels,
    )

    hist = release_history(spark, root).select(
        F.lit("history").alias("kind"),
        F.concat(
            F.col("version"),
            F.lit(":"),
            F.col("kind"),
            F.lit(":"),
            F.coalesce(F.col("base_version"), F.lit("-")),
        ).alias("label"),
        F.col("n_rows").cast(_BIG).alias("n"),
        F.col("current").cast(_BIG).alias("flag"),
    )

    v1_df, _ = read_release(spark, root, version="v00000001")
    v3_df, _ = read_release(spark, root)
    diff = release_diff_summary(v1_df, v3_df, id_col="doc_id")
    spine = spark.createDataFrame(
        [("added",), ("changed",), ("removed",), ("unchanged",)],
        "status string",
    )
    diff_rows = spine.join(F.broadcast(diff), "status", "left").select(
        F.lit("diff").alias("kind"),
        F.col("status").alias("label"),
        F.coalesce(F.col("n"), F.lit(0)).cast(_BIG).alias("n"),
        F.lit(None).cast(_BIG).alias("flag"),
    )
    return hist.unionByName(diff_rows)


@q(
    "x9_migrate",
    """WITH d AS (
  SELECT doc_id, source, text, n_chars,
         CASE WHEN doc_id % 10 = 3 THEN 'n/a'
              ELSE CAST(doc_id % 97 AS VARCHAR) END AS score_str
  FROM documents WHERE source IN ('src3', 'src7', 'src12'))
SELECT 'data' AS kind, source AS label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(TRY_CAST(score_str AS DOUBLE)) AS BIGINT) AS sum_score,
       CAST(sum(length(text)) AS BIGINT) AS sum_len
FROM d GROUP BY source
UNION ALL
SELECT 'cast_nulls', 'score_str',
       (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id % 10 = 3),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
UNION ALL
SELECT 'schema', 'body,doc_id,n_chars,score_str,source',
       CAST(5 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
UNION ALL
SELECT 'history', 'v00000002:migrate:v00000001',
       (SELECT CAST(count(*) AS BIGINT) FROM d),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)""",
)
def _x9migrate(spark, sf_dir):
    """X9c schema migration certified (r11 — VERDICT r10 item 2; slot
    funded by the p14_p15+p16_p18 merge): publish a release with a
    stringly score column (doc_id%10==3 rows deliberately
    non-numeric), run :func:`~.extensions.pipeline.
    migrate_release_schema` with ALL THREE mutation kinds at once —
    ``drop`` (lang), ``rename`` (text→body), and a LOSSY ``retype``
    (score_str→double, allow_lossy) — and certify the result against
    DuckDB recomputing the migration as a projection over the base
    data:

    - 'data' rows (per source partition): row count, summed retyped
      score (NULL where the cast failed — the sum proves try_cast
      semantics, exact because the scores are small ints), summed
      length of the RENAMED column. Any dropped/duplicated row, a
      rename that lost values, or a cast that mangled a parseable
      number breaks the hash.
    - 'cast_nulls': the manifest's migrate.cast_nulls['score_str']
      audit count vs the rule's row count — the lossy-cast
      accounting is read from the PUBLISHED manifest, not recomputed.
    - 'schema': the read-back column set (sorted) — drop and rename
      actually landed; the retype is proven by sum_score above.
    - 'history': version:kind:base lineage of the migrate publish
      plus its manifest row count.

    The chain exercises verify_untouched (default on): the migration
    re-fingerprints doc_id/n_chars/source before the pointer swap."""
    import tempfile

    from .extensions.pipeline import (
        migrate_release_schema,
        read_release,
        release_history,
        write_release_version,
    )

    root = tempfile.mkdtemp(prefix="gt_x9_migrate_")
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("source").isin("src3", "src7", "src12"))
        .select(
            "doc_id",
            "source",
            "text",
            "lang",
            "n_chars",
            F.when(F.col("doc_id") % 10 == 3, F.lit("n/a"))
            .otherwise((F.col("doc_id") % 97).cast("string"))
            .alias("score_str"),
        )
    )
    write_release_version(d, root, split_col="source")
    migrate_release_schema(
        spark,
        root,
        drop=["lang"],
        rename={"text": "body"},
        retype={"score_str": "double"},
        allow_lossy=True,
    )
    # read-back certification: v2's data AND its PUBLISHED manifest
    v2, man2 = read_release(spark, root)

    data = v2.groupBy("source").agg(
        F.count(F.lit(1)).cast(_BIG).alias("n"),
        F.sum("score_str").cast(_BIG).alias("sum_score"),
        F.sum(F.length("body")).cast(_BIG).alias("sum_len"),
    ).select(
        F.lit("data").alias("kind"),
        F.col("source").alias("label"),
        "n",
        "sum_score",
        "sum_len",
    )

    cast_nulls = int(
        man2["incremental"]["migrate"]["cast_nulls"]["score_str"]
    )
    spine_rows = [
        ("cast_nulls", "score_str", cast_nulls),
        ("schema", ",".join(sorted(v2.columns)), len(v2.columns)),
    ]
    hist = (
        release_history(spark, root)
        .where(F.col("current"))
        .select(
            F.lit("history").alias("kind"),
            F.concat(
                F.col("version"),
                F.lit(":"),
                F.col("kind"),
                F.lit(":"),
                F.coalesce(F.col("base_version"), F.lit("-")),
            ).alias("label"),
            F.col("n_rows").cast(_BIG).alias("n"),
            F.lit(None).cast(_BIG).alias("sum_score"),
            F.lit(None).cast(_BIG).alias("sum_len"),
        )
    )
    audit = spark.createDataFrame(
        spine_rows, "kind string, label string, n long"
    ).select(
        "kind",
        "label",
        F.col("n").cast(_BIG).alias("n"),
        F.lit(None).cast(_BIG).alias("sum_score"),
        F.lit(None).cast(_BIG).alias("sum_len"),
    )
    return data.unionByName(audit).unionByName(hist)


@q(
    "x7_curriculum",
    "SELECT lpad(CAST(doc_id % 4 AS VARCHAR), 6, '0') AS bin,"
    " CAST(count(*) AS BIGINT) AS n,"
    " CAST(sum(doc_id) AS BIGINT) AS sum_ids,"
    " CAST(1 AS BIGINT) AS deterministic"
    " FROM documents GROUP BY 1",
)
def _x7curr(spark, sf_dir):
    """X7g curriculum export certified (r10 — slot funded by the
    k1+k2 merge, VERDICT r9 item 5b): write_curriculum over a
    SQL-expressible binning (doc_id % 4) into bin=<k> directories,
    then read the layout back and pin per-bin row count + id sum —
    every document must land in exactly its bin's directory through
    the per-bin training_shuffle write (loss, duplication, or
    bin-bleed breaks the hash). The within-bin xxhash64 ORDER is not
    DuckDB-expressible, so determinism is the Spark-side arm: the
    corpus is exported TWICE with the same salt and the name-ordered
    per-file id sequences must match byte-for-byte (pyarrow
    driver-side read of the tiny oracle corpus — the 20x probe
    checks the same contract at scale); the flag rides every row and
    the oracle pins it to 1."""
    import os as _os
    import tempfile

    from .extensions.splits import write_curriculum

    d = t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 4).cast("int").alias("quality_bin")
    )
    out1 = tempfile.mkdtemp(prefix="gt_x7_curr_a_")
    out2 = tempfile.mkdtemp(prefix="gt_x7_curr_b_")
    write_curriculum(d, out1, salt="r10-curriculum")
    write_curriculum(d, out2, salt="r10-curriculum")

    def file_ids(root):
        import pyarrow.parquet as pq

        seqs = []
        for bdir in sorted(_os.listdir(root)):
            full = _os.path.join(root, bdir)
            if not _os.path.isdir(full):
                continue
            # part files sort by their part-NNNNN index; the rest of
            # the name is Spark's per-write job UUID, so compare by
            # POSITION, never by name — two identical exports always
            # differ in the UUID
            files = sorted(
                f for f in _os.listdir(full) if f.endswith(".parquet")
            )
            for i, fname in enumerate(files):
                tbl = pq.read_table(
                    _os.path.join(full, fname), columns=["doc_id"]
                )
                seqs.append((bdir, i, tbl["doc_id"].to_pylist()))
        return seqs

    deterministic = int(file_ids(out1) == file_ids(out2))

    back = spark.read.parquet(out1)
    return back.groupBy(
        F.lpad(F.col("bin").cast("string"), 6, "0").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast(_BIG).alias("n"),
        F.sum("doc_id").cast(_BIG).alias("sum_ids"),
        F.max(F.lit(deterministic)).cast(_BIG).alias("deterministic"),
    )
