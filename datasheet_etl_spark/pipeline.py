"""End-to-end extraction pipeline over mock stages (survey §3.1 → Spark DAG).

The reference's call chain (pipeline.py:246-295: vision extract → rule
extract → double verify → build result → review queue → JSON) becomes one
lazy DataFrame DAG. The mock extractors are deterministic literal
DataFrames reproducing the reference fixtures (behavioral spec:
pipeline.py:69-215), so the golden verification block (status=verified,
confidence 0.99, 1 low table_id conflict, 14 flat parameters —
output/lmr51430_v04.json) is testable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datasheet_etl_spark.functions import slugify
from datasheet_etl_spark.verify import DEFAULT_CONFIDENCE_THRESHOLD, VerifyResult, verify

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("table_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("headers", T.ArrayType(T.StringType())),
        T.StructField("rows", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("extraction_method", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("cost_usd", T.DoubleType()),
    ]
)

_HEADERS = ["Parameter", "Test Condition", "Min", "Typ", "Max", "Unit"]


def _row(parameter, cond, mn, typ, mx, unit):
    return dict(
        zip(_HEADERS, [parameter, cond, mn, typ, mx, unit])
    )


_FIXTURE_ROWS_VISION = [
    _row("Input Voltage Range", "", "4.2", "", "36", "V"),
    _row("Quiescent Current", "VFB = 1.1V", "", "25", "40", "µA"),
    _row("Output Current", "Continuous", "", "", "3", "A"),
    _row("Switching Frequency", "", "360", "400", "440", "kHz"),
    _row("Efficiency", "VIN=12V, VOUT=5V, IOUT=2A", "", "92", "", "%"),
]

# rule side differs in exactly two cells: uA vs µA (unit-alias match) and
# 3.0 vs 3 (numeric-tolerance match) — plus the table_id, which conflicts.
_FIXTURE_ROWS_RULE = [
    _row("Input Voltage Range", "", "4.2", "", "36", "V"),
    _row("Quiescent Current", "VFB = 1.1V", "", "25", "40", "uA"),
    _row("Output Current", "Continuous", "", "", "3.0", "A"),
    _row("Switching Frequency", "", "360", "400", "440", "kHz"),
    _row("Efficiency", "VIN=12V, VOUT=5V, IOUT=2A", "", "92", "", "%"),
]


def mock_vision_tables(spark: SparkSession, doc_key: str = "lmr51430.pdf") -> DataFrame:
    """Deterministic stand-in for the vision extraction stage (S8)."""
    return spark.createDataFrame(
        [
            (
                doc_key,
                "vision_table_1",
                "Electrical Characteristics",
                _HEADERS,
                _FIXTURE_ROWS_VISION,
                0.95,
                "vision",
                "gpt-4o-mini",
                0.002,
            )
        ],
        TABLE_SCHEMA,
    )


def mock_rule_tables(spark: SparkSession, doc_key: str = "lmr51430.pdf") -> DataFrame:
    """Deterministic stand-in for the rule extraction stage."""
    return spark.createDataFrame(
        [
            (
                doc_key,
                "rule_table_1",
                "Electrical Characteristics",
                _HEADERS,
                _FIXTURE_ROWS_RULE,
                0.85,
                "rule_based",
                None,
                None,
            )
        ],
        TABLE_SCHEMA,
    )


def _parameters(rows: Column) -> Column:
    """A1 parameter flatten, reference semantics (pipeline.py:345-367):
    per row, ``{slug}_min/typ/max`` as float (plain float() parse —
    unparseable silently dropped) and ``{slug}_unit`` when non-empty, in
    row order then min/typ/max/unit (the reference's insertion order).

    array<struct<pos, param, value_num, value_str>>: exactly one of
    value_num / value_str is non-NULL."""

    def per_row(row, pos):
        slug = slugify(F.coalesce(F.element_at(row, F.lit("Parameter")), F.lit("")))

        def entry(suffix, value_num, value_str):
            return F.struct(
                pos.alias("pos"),
                F.concat(slug, F.lit(suffix)).alias("param"),
                value_num.cast("double").alias("value_num"),
                value_str.cast("string").alias("value_str"),
            )

        entries = []
        for stat in ("Min", "Typ", "Max"):
            num = F.element_at(row, F.lit(stat)).try_cast("double")
            entries.append(F.when(num.isNotNull(), entry(f"_{stat.lower()}", num, F.lit(None))))
        unit = F.element_at(row, F.lit("Unit"))
        entries.append(F.when(unit != "", entry("_unit", F.lit(None), unit)))
        return F.filter(F.array(*entries), lambda p: p.isNotNull())

    return F.flatten(F.transform(rows, per_row))


def extract_parameters(final_tables: DataFrame, key: str = "key") -> DataFrame:
    """Flat parameters in long form: (key, pos, param, value_num,
    value_str), one row per entry of :func:`_parameters`. The wide shapes
    are built on top (``parameters_json``, dynamic pivot S10)."""
    return final_tables.select(key, F.explode(_parameters(F.col("rows"))).alias("p")).select(
        key, "p.*"
    )


def _parameters_json(params: Column) -> Column:
    """Flat parameters as one JSON object string (NULL when none). JSON
    because the value type is float|string (survey §1.2: truly-Any
    becomes a JSON string column)."""
    entries = F.transform(
        params,
        lambda p: F.concat(
            F.lit('"'),
            p["param"],
            F.lit('": '),
            F.when(p["value_num"].isNotNull(), p["value_num"].cast("string")).otherwise(
                F.concat(F.lit('"'), p["value_str"], F.lit('"'))
            ),
        ),
    )
    return F.when(
        F.size(params) > 0, F.concat(F.lit("{"), F.array_join(entries, ", "), F.lit("}"))
    )


def run_pipeline(
    spark: SparkSession,
    vision: DataFrame | None = None,
    rule: DataFrame | None = None,
    source_file: str | None = None,
    confidence_threshold: float | None = None,
) -> tuple[DataFrame, VerifyResult]:
    """Assemble the full result DataFrame: one row per vision table with
    metadata / verification / tables / parameters_json / conflicts —
    parsed-equal to the reference's result JSON. A projection of the
    verification frame: no further join or shuffle.

    ``confidence_threshold`` routes docs below it to needs_review (the
    CLI maps Gold/Silver/Bronze accuracy tiers onto it)."""
    vision = vision if vision is not None else mock_vision_tables(spark)
    rule = rule if rule is not None else mock_rule_tables(spark)

    vr = verify(
        vision,
        rule,
        confidence_threshold=(
            DEFAULT_CONFIDENCE_THRESHOLD
            if confidence_threshold is None
            else confidence_threshold
        ),
    )
    v = F.col("verdict")
    result = vr.tables.select(
        "key",
        F.struct(
            F.col("key").alias("source_file"),
            F.lit("0.4").alias("pipeline_version"),
            F.lit("vision_first_double_verified").alias("extraction_method"),
            F.lit("gpt-4o-mini").alias("vision_model"),
        ).alias("metadata"),
        F.struct(
            v["status"].alias("status"),
            F.round(v["confidence"], 3).alias("confidence"),
            v["resolution_method"].alias("resolution_method"),
            v["conflict_count"].alias("conflict_count"),
        ).alias("verification"),
        F.array(
            F.struct(
                "table_id",
                "title",
                "headers",
                "rows",
                "confidence",
                "extraction_method",
                "model",
                "cost_usd",
            )
        ).alias("tables"),
        _parameters_json(_parameters(F.col("rows"))).alias("parameters_json"),
        F.transform(
            "conflicts",
            lambda c: F.struct(
                c["field"].alias("field"),
                c["vision_value"].alias("vision_value"),
                c["rule_value"].alias("rule_value"),
                F.lower(c["severity"]).alias("severity"),
                c["resolution"].alias("resolution"),
                c["resolved_value"].alias("resolved_value"),
            ),
        ).alias("conflicts"),
    )
    return result, vr


def write_result_json(result: DataFrame, path: str) -> None:
    """S9 JSON sink: nested result rows as JSON lines."""
    result.write.mode("overwrite").json(path)


def observed(df, name: str, *metrics):
    """Attach observable metrics to a DataFrame (survey §4: the
    reference's mutable stats counters become ``observe()`` aggregates —
    computed during the SAME action that runs the plan, exact under task
    retry, no second job and no accumulator double-count).

    Returns (df, Observation); read ``observation.get`` after an action.
    Default metrics: row count.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    cols = list(metrics) or [F.count(F.lit(1)).alias("rows")]
    return df.observe(obs, *cols), obs
