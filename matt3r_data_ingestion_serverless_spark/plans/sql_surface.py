"""Modern Spark-SQL surface parity: the VARIANT type and ordered
string aggregation — features a user migrating FROM a
hand-rolled pipeline TO this engine gets for free from the SQL layer,
each pinned against a DuckDB oracle.

The reference parses its JSON payloads with json.loads in Python
(infer_stationary_states.py:63, infer_autopilot_states.py:52); the
VARIANT query shows the engine-native replacement (binary-encoded JSON,
typed extraction, no Python). The recursive-CTE connected components
(sql_recursive_components) live with the dedup domain in
plans/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table


@register(
    "d12_variant_props",
    sql="""
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
       CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS INT) AS k_max,
       count(*) AS n
FROM events
GROUP BY event_type
""",
)
def d12_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload decode through the VARIANT type: parse once into the
    binary-encoded variant, extract typed fields with variant_get —
    the engine-native form of the reference's json.loads row loop
    (infer_stationary_states.py:63).

    Scale: VARIANT parses each document once into a shredded binary
    (vs. per-extraction re-parse with get_json_object when multiple
    paths are pulled); extraction is a JVM expression inside codegen —
    no Python, no UDF. The agg is a plain map-side-combine hash agg."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("k_sum"),
            F.max("k").cast("int").alias("k_max"),
            F.count("*").alias("n"),
        )
    )


@register(
    "listagg_priorities",
    sql="""
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)
def listagg_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered, de-duplicated string aggregation (listagg WITHIN GROUP,
    SQL:2016) — the reporting-layer concatenation the reference would
    do with ''.join in Python.

    Scale: listagg DISTINCT + ORDER BY implies a per-group sort, but
    groups here are tiny (priority labels); the heavy lifting is the
    hash agg underneath. For unbounded groups prefer collect_set +
    array_join with an explicit cap."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
SELECT o_orderstatus,
       listagg(DISTINCT o_orderpriority, '|')
         WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
       count(*) AS n_orders
FROM orders_v
GROUP BY o_orderstatus
"""
    )


@register(
    "d13_xml_roundtrip",
    sql="""
SELECT event_id,
       user_id AS u,
       event_type AS t,
       round(value, 6) AS v,
       event_type AS t_xpath
FROM events WHERE event_id < 1000
""",
)
def d13_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML as an interchange format: serialize each event to an XML
    fragment, parse it back with the schema-directed from_xml, and
    extract one field a second way via xpath_string. The oracle reads
    the source columns directly — equality proves the encode→parse
    round-trip is lossless (doubles survive because Spark formats them
    as shortest-round-trip strings).

    Scale: both from_xml and xpath are per-row JVM expressions inside
    codegen — no shuffle, no UDF; schema-directed parsing beats xpath
    when multiple fields are pulled (one parse vs one per path)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    xml = F.concat(
        F.lit("<e><u>"), F.col("user_id"),
        F.lit("</u><t>"), F.col("event_type"),
        F.lit("</t><v>"), F.round(F.col("value"), 6),
        F.lit("</v></e>"),
    )
    parsed = e.select(
        "event_id",
        xml.alias("xml"),
        F.from_xml(xml, "u LONG, t STRING, v DOUBLE").alias("s"),
    )
    return parsed.select(
        "event_id",
        F.col("s.u").alias("u"),
        F.col("s.t").alias("t"),
        F.col("s.v").alias("v"),
        F.expr("xpath_string(xml, '/e/t')").alias("t_xpath"),
    )


@register(
    "try_arithmetic",
    sql="""
SELECT event_id,
       round(value / nullif((event_id % 7) - 3, 0), 6) AS ratio,
       CASE WHEN event_id % 2 = 1 THEN NULL
            ELSE 9223372036854775807 END AS ovf,
       TRY_CAST(event_type AS DOUBLE) AS not_a_number
FROM events WHERE event_id < 1000
""",
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe arithmetic: try_divide (÷0 → NULL instead of
    ANSI error), try_add at the BIGINT boundary (overflow → NULL), and
    try_cast on non-numeric text — the row-poison quarantine pattern:
    under ANSI SQL mode one bad row kills the job at 100 TB; try_*
    converts the poison to NULL so the batch lands and the NULLs are
    auditable afterwards. DuckDB mirrors with nullif guards, a CASE
    for the overflow branch, and its native TRY_CAST."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return e.select(
        "event_id",
        F.round(F.try_divide(F.col("value"), (F.col("event_id") % 7) - 3), 6).alias(
            "ratio"
        ),
        F.try_add(F.lit(9223372036854775807), F.col("event_id") % 2).alias("ovf"),
        F.try_to_number(F.col("event_type"), F.lit("999")).cast("double").alias(
            "not_a_number"
        ),
    )
