"""Golden-pipeline tests: the mock fixtures must reproduce the reference's
demo result exactly (behavioral spec: output/lmr51430_v04.json —
status verified, confidence 0.99, exactly one low table_id conflict
resolved vision_wins, 14 flat parameters)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from datasheet_etl_spark.pipeline import (
    extract_parameters,
    mock_rule_tables,
    mock_vision_tables,
    run_pipeline,
)
from datasheet_etl_spark.verify import verify

GOLDEN_PARAMS = {
    "input_voltage_range_min": 4.2,
    "input_voltage_range_max": 36.0,
    "input_voltage_range_unit": "V",
    "quiescent_current_typ": 25.0,
    "quiescent_current_max": 40.0,
    "quiescent_current_unit": "µA",
    "output_current_max": 3.0,
    "output_current_unit": "A",
    "switching_frequency_min": 360.0,
    "switching_frequency_typ": 400.0,
    "switching_frequency_max": 440.0,
    "switching_frequency_unit": "kHz",
    "efficiency_typ": 92.0,
    "efficiency_unit": "%",
}


@pytest.fixture(scope="module")
def result_row(spark):
    result, vr = run_pipeline(spark)
    rows = result.collect()
    assert len(rows) == 1
    return rows[0]


def test_verification_block(result_row):
    v = result_row["verification"]
    assert v["status"] == "verified"
    assert v["confidence"] == 0.99
    assert v["resolution_method"] == "auto_resolved"
    assert v["conflict_count"] == 1


def test_single_table_id_conflict(result_row):
    conflicts = result_row["conflicts"]
    assert len(conflicts) == 1
    c = conflicts[0]
    assert c["field"] == "table_id"
    assert c["vision_value"] == "vision_table_1"
    assert c["rule_value"] == "rule_table_1"
    assert c["severity"] == "low"
    assert c["resolution"] == "vision_wins"
    assert c["resolved_value"] == "vision_table_1"


def test_flat_parameters(result_row):
    params = json.loads(result_row["parameters_json"])
    assert params == GOLDEN_PARAMS


def test_final_table_keeps_vision_values(result_row):
    table = result_row["tables"][0]
    assert table["table_id"] == "vision_table_1"
    assert table["headers"] == [
        "Parameter", "Test Condition", "Min", "Typ", "Max", "Unit",
    ]
    rows = table["rows"]
    assert len(rows) == 5
    # the µA/3 cells stay vision (unit + numeric matches, no conflict)
    assert rows[1]["Unit"] == "µA"
    assert rows[2]["Max"] == "3"


def test_perfect_match_path(spark):
    vr = verify(mock_vision_tables(spark), mock_vision_tables(spark).withColumn(
        "table_id", F.lit("vision_table_1")))
    verdicts = vr.verdicts.collect()
    assert len(verdicts) == 1
    v = verdicts[0]
    assert v["status"] == "verified"
    assert v["confidence"] == 1.0
    assert v["resolution_method"] == "perfect_match"
    assert v["conflict_count"] == 0


def test_vision_only_path(spark):
    rule_empty = mock_rule_tables(spark).filter(F.lit(False))
    vr = verify(mock_vision_tables(spark), rule_empty)
    v = vr.verdicts.collect()[0]
    assert v["status"] == "verified"
    assert v["confidence"] == 0.85
    assert v["resolution_method"] == "vision_only"


def test_critical_conflict_needs_review(spark):
    # big diff on a critical parameter row (Input Voltage Range → 'vin' is
    # not a substring, but Parameter context contains 'Frequency' → critical
    # via 'frequency') — behavioral spec: double_verifier.py:511-550 + test
    # scenario test_comprehensive.py:218-258.
    vision = mock_vision_tables(spark)
    bad_rows = [dict(r) for r in _collect_rows(vision)]
    bad_rows[3]["Typ"] = "500"  # Switching Frequency 400 → 500: 20% diff
    rule = _with_rows(mock_rule_tables(spark), bad_rows, spark)
    vr = verify(vision, rule)
    v = vr.verdicts.collect()[0]
    assert v["status"] == "needs_review"
    assert v["resolution_method"] == "manual_required"
    sev = {c["field"]: c["severity"] for c in vr.conflicts.collect()}
    assert sev["row[3].Typ"] == "CRITICAL"


def test_zip_truncation(spark):
    # unequal row counts: trailing rows of the longer side never compared
    vision = mock_vision_tables(spark)
    short_rows = _collect_rows(vision)[:3]
    rule = _with_rows(mock_rule_tables(spark), short_rows, spark)
    vr = verify(vision, rule)
    fields = [c["field"] for c in vr.conflicts.collect()]
    assert all(not f.startswith("row[3]") and not f.startswith("row[4]") for f in fields)


def _collect_rows(df):
    return df.collect()[0]["rows"]


def _with_rows(df, rows, spark):
    from datasheet_etl_spark.pipeline import TABLE_SCHEMA

    base = df.collect()[0].asDict()
    base["rows"] = rows
    return spark.createDataFrame([tuple(base[f.name] for f in TABLE_SCHEMA)], TABLE_SCHEMA)


# ---------------------------------------------------------------------------
# The result contract and the plan shape
# ---------------------------------------------------------------------------

RESULT_SCHEMA = (
    "struct<key:string,"
    "metadata:struct<source_file:string,pipeline_version:string,"
    "extraction_method:string,vision_model:string>,"
    "verification:struct<status:string,confidence:double,"
    "resolution_method:string,conflict_count:bigint>,"
    "tables:array<struct<table_id:string,title:string,headers:array<string>,"
    "rows:array<map<string,string>>,confidence:double,extraction_method:string,"
    "model:string,cost_usd:double>>,"
    "parameters_json:string,"
    "conflicts:array<struct<field:string,vision_value:string,rule_value:string,"
    "severity:string,resolution:string,resolved_value:string>>>"
)


def test_result_schema_is_pinned(spark):
    """Exporters and the CLI read result JSON back with this schema."""
    result, _ = run_pipeline(spark)
    assert result.schema.simpleString() == RESULT_SCHEMA


def test_one_pass_plan_over_parquet_inputs(spark, tmp_path):
    """Verification and result assembly read each input once: one
    FileScan per input and at most two Exchanges (group the rule side
    by key, join it to vision)."""
    import re

    vpath, rpath = str(tmp_path / "vision"), str(tmp_path / "rule")
    mock_vision_tables(spark).write.parquet(vpath)
    mock_rule_tables(spark).write.parquet(rpath)
    result, _ = run_pipeline(spark, spark.read.parquet(vpath), spark.read.parquet(rpath))
    plan = result._jdf.queryExecution().executedPlan().toString()
    # each input needs at least one scan, so two scans is one per input
    assert len(re.findall(r"FileScan parquet", plan)) == 2, plan
    assert len(re.findall(r"Exchange", plan)) <= 2, plan


# ---------------------------------------------------------------------------
# Edge cases
# ---------------------------------------------------------------------------


def _table(spark, key, table_id, rows, headers=None, title="Electrical Characteristics"):
    from datasheet_etl_spark.pipeline import TABLE_SCHEMA

    return spark.createDataFrame(
        [(key, table_id, title, headers or _EC_HEADERS, rows, 0.9, "vision", "m", 0.0)],
        TABLE_SCHEMA,
    )


_EC_HEADERS = ["Parameter", "Min", "Max", "Unit"]


def _cell_row(name, mn, mx, unit):
    return {"Parameter": name, "Min": mn, "Max": mx, "Unit": unit}


def _result_json(result):
    """Result records as the JSON sink writes them (map entries in order)."""
    return [
        json.loads(r[0]) for r in result.select(F.to_json(F.struct("*"))).collect()
    ]


def test_unit_conflict_rule_wins_and_is_patched_in_header_order(spark):
    rows = [_cell_row("Output Voltage", "0.6", "28", "V")]
    rows[0]["Note"] = "adj"  # not a header: sorts after the header keys
    # a rule-only key conflicts against '' but is never patched in
    rule_rows = [dict(rows[0], Unit="mV", Typ="1.2")]
    vision = _table(spark, "d", "t1", rows)
    rule = _table(spark, "d", "t1", rule_rows)
    result, vr = run_pipeline(spark, vision, rule)
    got = sorted(
        (c["field"], c["vision_value"], c["conflict_type"], c["resolution"], c["resolved_value"])
        for c in vr.conflicts.collect()
    )
    assert got == [
        ("row[0].Typ", "", "text", "vision_wins", ""),
        ("row[0].Unit", "V", "unit", "rule_wins", "mV"),
    ]
    [rec] = _result_json(result)
    [row] = rec["tables"][0]["rows"]
    assert list(row) == ["Parameter", "Min", "Max", "Unit", "Note"]
    assert row["Unit"] == "mV"
    assert json.loads(rec["parameters_json"])["output_voltage_unit"] == "mV"
    assert [c["severity"] for c in rec["conflicts"]] == ["low", "low"]


def test_empty_and_null_row_maps_are_dropped(spark):
    a, b = _cell_row("Output Current", "", "3", "A"), _cell_row("Efficiency", "", "92", "%")
    rows = [a, {}, None, b]
    result, vr = run_pipeline(spark, _table(spark, "d", "t", rows), _table(spark, "d", "t", rows))
    [rec] = _result_json(result)
    assert rec["tables"][0]["rows"] == [a, b]
    assert rec["verification"]["resolution_method"] == "perfect_match"
    # parameter positions follow the kept rows
    params = extract_parameters(vr.final_tables).orderBy("pos", "param").collect()
    assert [(p["pos"], p["param"]) for p in params] == [
        (0, "output_current_max"), (0, "output_current_unit"),
        (1, "efficiency_max"), (1, "efficiency_unit"),
    ]


@pytest.mark.parametrize("rows", [[], None])
def test_rowless_table_yields_empty_rows(spark, rows):
    result, _ = run_pipeline(
        spark, _table(spark, "d", "t", rows), _table(spark, "d", "t", rows)
    )
    [rec] = _result_json(result)
    assert rec["tables"][0]["rows"] == []
    assert "parameters_json" not in rec  # null: dropped by the JSON writer
    assert rec["verification"]["resolution_method"] == "perfect_match"


def test_two_rule_tables_conflict_per_pair(spark):
    rows = [_cell_row("Output Current", "", "3", "A")]
    vision = _table(spark, "d", "vision_table_1", rows)
    rule = _table(spark, "d", "rule_table_1", rows).unionByName(
        _table(spark, "d", "rule_table_2", [dict(rows[0], Max="5")])
    )
    result, vr = run_pipeline(spark, vision, rule)
    got = sorted((c["field"], c["rule_value"]) for c in vr.conflicts.collect())
    assert got == [
        ("row[0].Max", "5"),
        ("table_id", "rule_table_1"),
        ("table_id", "rule_table_2"),
    ]
    [rec] = _result_json(result)
    assert rec["verification"]["conflict_count"] == 3
    assert [c["field"] for c in rec["conflicts"]] == ["row[0].Max", "table_id", "table_id"]


def test_repeated_vision_key_verifies_each_vision_table(spark):
    """Two vision tables under one key: one result row per vision table,
    each verified against every rule table of its key."""
    rows = [_cell_row("Output Current", "", "3", "A")]
    vision = _table(spark, "d", "t_a", rows).unionByName(
        _table(spark, "d", "t_b", [dict(rows[0], Max="4")])
    )
    rule = _table(spark, "d", "", rows)  # empty table_id: no metadata conflict
    result, vr = run_pipeline(spark, vision, rule)
    by_id = {r["tables"][0]["table_id"]: r for r in _result_json(result)}
    assert set(by_id) == {"t_a", "t_b"}
    assert by_id["t_a"]["verification"]["resolution_method"] == "perfect_match"
    assert by_id["t_a"]["conflicts"] == []
    assert by_id["t_b"]["verification"]["conflict_count"] == 1
    assert [c["field"] for c in by_id["t_b"]["conflicts"]] == ["row[0].Max"]
    assert by_id["t_b"]["tables"][0]["rows"] == [dict(rows[0], Max="4")]
    assert vr.verdicts.count() == 2


# ---------------------------------------------------------------------------
# Graded against planted conflicts
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [11, 29])
def test_pipeline_finds_planted_conflicts(spark, tmp_path, seed):
    """A seeded corpus with planted discrepancies: every planted conflict
    surfaces exactly once, nothing else does (the benchmark's grader)."""
    from perfbench import corpus as corpus_mod

    from datasheet_etl_spark.pipeline import TABLE_SCHEMA, write_result_json
    from datasheet_etl_spark.sources.pdf_bridge import PAGE_SCHEMA, lift_page_tables

    corpus = corpus_mod.generate(seed, 30)
    staged = {
        "vision": spark.createDataFrame(corpus.vision, TABLE_SCHEMA).unionByName(
            mock_vision_tables(spark)
        ),
        "pages": spark.createDataFrame(corpus.pages, PAGE_SCHEMA),
        "golden_rule": mock_rule_tables(spark),
    }
    for name, df in staged.items():
        df.write.parquet(str(tmp_path / name))
    read = lambda name: spark.read.parquet(str(tmp_path / name))  # noqa: E731
    rule = lift_page_tables(read("pages")).unionByName(read("golden_rule"))
    result, _ = run_pipeline(spark, read("vision"), rule)
    out = str(tmp_path / "result")
    write_result_json(result, out)
    records = [
        json.loads(line)
        for part in sorted(glob.glob(os.path.join(out, "part-*")))
        for line in open(part, encoding="utf-8")
    ]
    assert corpus_mod.check_results(corpus, records) == []
    assert sum(len(r["conflicts"]) for r in records) > 0
