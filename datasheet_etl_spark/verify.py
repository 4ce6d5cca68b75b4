"""The double-verification dataflow (survey §2.5, V1–V15 + J1/J5).

Reference semantics (behavioral spec: double_verifier.py:304-644) as ONE
per-document plan:

    rule tables ── group by key ──┐
    vision tables ────────────────┴─ left join on key ─ per vision table,
        over every rule table of its key:
          ├─ cell conflicts (J1 zip → V4 mismatch → V5 type → V6 severity)
          ├─ header conflict (V7), metadata conflicts (title / table_id)
          └─ arbitration (V8: unit → rule_wins else vision_wins)
        then, over the table's sorted conflicts array:
          ├─ V10 confidence → V11 large diff → V12 status
          └─ J5 patch-back → final rows (header order, empty rows dropped)

Input table schema (both sides):
    key: string               -- document/table grouping key
    table_id, title: string
    headers: array<string>
    rows: array<map<string,string>>
plus passthrough columns on the vision side (confidence, model, …).

The zip truncation of ``zip(v_rows, r_rows)`` is reproduced by slicing
both row arrays to the shorter one — never pad it (survey §7.4.2).

Repeated keys: each vision table is its own result, verified against
every rule table of its key (conflicts per (vision, rule) pair); a key
without rule tables is vision_only.

Scale notes: each input is scanned once. The rule side is shuffled once,
by its group-by on key; the grouped rules are broadcast to the vision
scan while small, and otherwise meet it in a sort-merge join that
shuffles the vision side by key too. All per-cell work runs inside the
row that owns it with native higher-order functions (``transform``,
``filter``, ``aggregate``, ``array_sort``), so no cell stream is ever
materialised or re-joined. Lambdas are interpreted rather than
code-generated; at datasheet table sizes (tens of rows per table) that
costs far less than exploding cells into rows and shuffling them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datasheet_etl_spark.functions import (
    assess_severity,
    classify_conflict,
    severity_penalty,
    values_match,
)
from datasheet_etl_spark.functions.compare import pct_diff

DEFAULT_CONFIDENCE_THRESHOLD = 0.60


@dataclass
class VerifyResult:
    """The verification frame and its three classic projections.

    ``tables`` has one row per vision table: its columns (``rows``
    patched), the sorted ``conflicts`` array and a ``verdict`` struct."""

    tables: DataFrame
    key: str = "key"

    @property
    def conflicts(self) -> DataFrame:
        """key, field, vision_value, rule_value, severity, conflict_type,
        resolution, resolved_value"""
        return self.tables.select(self.key, F.explode("conflicts").alias("c")).select(
            self.key, "c.*"
        )

    @property
    def verdicts(self) -> DataFrame:
        """key, status, confidence, resolution_method, conflict_count"""
        return self.tables.select(self.key, "verdict.*")

    @property
    def final_tables(self) -> DataFrame:
        """The vision tables with their rows patched (J5)."""
        return self.tables.drop("conflicts", "verdict")


def _pyliststr(arr) -> F.Column:
    """Python ``str(list)`` shape for header-conflict values:
    ['a', 'b'] — matches the reference's str(headers)."""
    # str([]) == '[]' — the concat form would render "['']" for empties
    return F.when(F.size(arr) == 0, F.lit("[]")).otherwise(
        F.concat(F.lit("['"), F.array_join(arr, "', '"), F.lit("']"))
    )


def _smart_resolution(conflict_type: Column) -> Column:
    """V8 SmartArbiter: unit conflicts → rule_wins, everything else →
    vision_wins (ref: double_verifier.py:206-236)."""
    return F.when(conflict_type == "unit", "rule_wins").otherwise("vision_wins")


def _resolved_value(resolution: Column, vision_value: Column, rule_value: Column) -> Column:
    return F.when(resolution == "rule_wins", rule_value).otherwise(vision_value)


def _cell_field(pos: Column, k: Column) -> Column:
    """A cell conflict's field name: ``row[<pos>].<key>``."""
    return F.concat(F.lit("row["), pos.cast("string"), F.lit("]."), k)


def _conflict(field, vision_value, rule_value, severity, conflict_type) -> Column:
    resolution = _smart_resolution(conflict_type)
    return F.struct(
        field.alias("field"),
        vision_value.alias("vision_value"),
        rule_value.alias("rule_value"),
        severity.alias("severity"),
        conflict_type.alias("conflict_type"),
        resolution.alias("resolution"),
        _resolved_value(resolution, vision_value, rule_value).alias("resolved_value"),
    )


def _cell_conflicts(v_rows: Column, r_rows: Column) -> Column:
    """V4–V6 over the zipped rows (J1: the longer side's tail is never
    compared), per field of the key union of both row maps."""

    def row_conflicts(v_row, pos):
        r_row = r_rows[pos]
        cells = F.transform(
            F.coalesce(F.array_union(F.map_keys(v_row), F.map_keys(r_row)), F.array()),
            lambda k: F.struct(
                k.alias("k"),
                F.coalesce(F.element_at(v_row, k), F.lit("")).alias("v"),
                F.coalesce(F.element_at(r_row, k), F.lit("")).alias("r"),
            ),
        )
        param_ctx = F.coalesce(F.element_at(v_row, F.lit("Parameter")), F.lit(""))
        return F.transform(
            F.filter(cells, lambda c: ~values_match(c["v"], c["r"])),
            lambda c: _conflict(
                _cell_field(pos, c["k"]),
                c["v"],
                c["r"],
                assess_severity(c["k"], c["v"], c["r"], param_ctx),
                classify_conflict(c["k"], c["v"]),
            ),
        )

    n = F.least(F.size(v_rows), F.size(r_rows))
    return F.flatten(F.transform(F.slice(v_rows, 1, n), row_conflicts))


def _pair_conflicts(r: Column) -> Column:
    """Every conflict between this vision table and rule table ``r``
    (ref: _find_conflicts, double_verifier.py:412-475)."""
    v_headers, r_headers = F.col("headers"), r["headers"]
    structural = [
        F.when(
            v_headers != r_headers,
            _conflict(
                F.lit("headers"),
                _pyliststr(v_headers),
                _pyliststr(r_headers),
                F.lit("MEDIUM"),
                F.lit("structure"),
            ),
        )
    ]
    # metadata (title, table_id): both non-empty and mismatched
    for fld in ("title", "table_id"):
        v = F.coalesce(F.col(fld), F.lit(""))
        rv = F.coalesce(r[fld], F.lit(""))
        structural.append(
            F.when(
                (v != "") & (rv != "") & ~values_match(v, rv),
                _conflict(F.lit(fld), v, rv, F.lit("LOW"), F.lit("text")),
            )
        )
    return F.concat(
        _cell_conflicts(F.coalesce(F.col("rows"), F.array()), F.coalesce(r["rows"], F.array())),
        F.filter(F.array(*structural), lambda c: c.isNotNull()),
    )


def _verdict(conflicts: Column, has_rule: Column, confidence_threshold: float) -> Column:
    """V10 confidence + V11 large-diff + V12 status.

    Mirrors the reference decision ladder (double_verifier.py:304-398):
    no rule table → verified @0.85 vision_only; zero conflicts →
    verified @1.0 perfect_match; unresolved high/critical or (critical ∧
    >10% diff) → needs_review; confidence < threshold → conflict; else
    verified (auto_resolved).
    """
    penalty = F.aggregate(
        conflicts,
        F.lit(0.0),
        lambda acc, c: acc + severity_penalty(c["severity"], c["resolution"].isNotNull()),
    )
    scored = F.greatest(F.lit(0.0), F.least(F.lit(1.0), 1.0 - penalty))
    needs_review = F.exists(
        conflicts,
        lambda c: (c["severity"].isin("HIGH", "CRITICAL") & c["resolution"].isNull())
        | (
            (c["severity"] == "CRITICAL")
            & (pct_diff(c["vision_value"], c["rule_value"]) > 0.10)
        ),
    )
    n = F.size(conflicts)

    def ladder(no_rule, clean, review, low, ok):
        return (
            F.when(~has_rule, no_rule)
            .when(n == 0, clean)
            .when(needs_review, review)
            .when(scored < confidence_threshold, low)
            .otherwise(ok)
        )

    return F.struct(
        ladder("verified", "verified", "needs_review", "conflict", "verified").alias("status"),
        F.when(~has_rule, 0.85).when(n == 0, 1.0).otherwise(scored).alias("confidence"),
        ladder(
            "vision_only", "perfect_match", "manual_required", "low_confidence", "auto_resolved"
        ).alias("resolution_method"),
        n.cast("bigint").alias("conflict_count"),
    )


def _patched_rows(rows: Column, conflicts: Column) -> Column:
    """J5 patch-back: the vision rows with every rule_wins cell
    overwritten, keys in header order (unknown keys last, by name);
    empty and null row maps dropped, no rows → []."""
    fixes = F.filter(conflicts, lambda c: c["resolution"] == "rule_wins")
    headers = F.col("headers")

    def patch(row, pos):
        def entry(k):
            field = _cell_field(pos, k)
            fix = F.get(F.filter(fixes, lambda c: c["field"] == field), 0)["resolved_value"]
            korder = F.when(
                F.array_position(headers, k) > 0, F.array_position(headers, k)
            ).otherwise(F.lit(1_000_000))
            return F.struct(
                korder.alias("korder"),
                k.alias("key"),
                F.coalesce(fix, F.element_at(row, k)).alias("value"),
            )

        entries = F.array_sort(F.transform(F.map_keys(row), entry))
        return F.when(
            F.size(row) > 0,
            F.map_from_entries(
                F.transform(entries, lambda e: F.struct(e["key"], e["value"]))
            ),
        )

    return F.coalesce(
        F.filter(F.transform(rows, patch), lambda m: m.isNotNull()), F.array()
    )


def verify(
    vision: DataFrame,
    rule: DataFrame,
    key: str = "key",
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
) -> VerifyResult:
    """Run the full double-verification dataflow as one per-document plan.

    One result row per vision table, verified against every rule table of
    its key; a vision key repeated on several tables yields one result
    row per table. The vision side's ``verdict`` and ``conflicts``
    column names are taken by the outputs."""
    rules = rule.groupBy(key).agg(
        F.collect_list(F.struct("headers", "title", "table_id", "rows")).alias("__rules")
    )
    conflicts = F.flatten(F.transform("__rules", _pair_conflicts))
    tables = (
        vision.join(rules, key, "left")
        .withColumn("conflicts", F.array_sort(F.coalesce(conflicts, F.array())))
        .withColumn(
            "verdict",
            _verdict(F.col("conflicts"), F.col("__rules").isNotNull(), confidence_threshold),
        )
        .withColumn("rows", _patched_rows(F.col("rows"), F.col("conflicts")))
        .drop("__rules")
    )
    return VerifyResult(tables, key)


def review_queue(verdicts: DataFrame) -> DataFrame:
    """V13: the needs_review routing filter — a sink-side selection, not
    driver-side control flow."""
    return verdicts.filter(F.col("status") == "needs_review")


def verifier_stats(verdicts: DataFrame, conflicts: DataFrame, key: str = "key") -> DataFrame:
    """A3: the reference's mutable counters as a single aggregate row."""
    counts = verdicts.agg(
        F.count("*").alias("total_verifications"),
        F.count_if(F.col("status") == "verified").alias("verified_count"),
        F.count_if(F.col("status") == "conflict").alias("conflict_count"),
        F.count_if(F.col("status") == "needs_review").alias("needs_review_count"),
    )
    cstats = conflicts.agg(
        F.count("*").alias("total_conflicts_found"),
        F.count_if(F.col("resolution").isNotNull()).alias("conflicts_resolved"),
    )
    return counts.crossJoin(cstats)


def accuracy_metrics(
    extracted: DataFrame, golden: DataFrame, key: str = "key"
) -> DataFrame:
    """A10 (ref: docs/architecture_v04.md:515-527 — planned in the
    reference, implemented here): extraction accuracy vs ground truth at
    cell, row, and table grain in ONE pass via ROLLUP.

    Full-outer join on (key, row_idx, col_idx) so both misses (golden
    cell never extracted) and hallucinations (extracted cell not in
    golden) count as mismatches; match is null-safe equality. Output:
    one row per (grain, key[, row_idx]) with accuracy ∈ [0,1] and the
    cell count it averages over.
    """
    e = extracted.select(
        key, "row_idx", "col_idx", F.col("content").alias("_e")
    )
    g = golden.select(key, "row_idx", "col_idx", F.col("content").alias("_g"))
    j = e.join(g, [key, "row_idx", "col_idx"], "full_outer")
    match = F.col("_e").eqNullSafe(F.col("_g")).cast("double")
    return (
        j.select(key, "row_idx", match.alias("_m"))
        .rollup(key, "row_idx")
        .agg(F.avg("_m").alias("accuracy"), F.count("*").alias("n_cells"))
        .select(
            F.when(F.col("row_idx").isNotNull(), "row")
            .when(F.col(key).isNotNull(), "table")
            .otherwise("overall")
            .alias("grain"),
            key,
            "row_idx",
            F.round("accuracy", 6).alias("accuracy"),
            "n_cells",
        )
    )


# ---------------------------------------------------------------------------
# U1/U2: pluggable comparator / arbiter registries
# (ref: interfaces.py:357-409, double_verifier.py:206-236, 287-289)
# ---------------------------------------------------------------------------

# name → (v1: Column, v2: Column) -> Column<boolean>. Built-ins compile to
# native expressions (codegen); user comparators may be pandas_udf-backed
# Column functions — the registry doesn't care, anything Column-in/
# Column-out composes into the match cascade.
def _builtin_comparators():
    from datasheet_etl_spark.functions.compare import (
        numbers_match,
        text_match,
        units_match,
    )

    return {
        "numeric": lambda a, b: numbers_match(a, b),
        "unit": lambda a, b: units_match(a, b),
        "text": lambda a, b: text_match(a, b),
    }


COMPARATORS: dict = _builtin_comparators()

# name → (conflicts: DataFrame) -> Column<string resolution>
ARBITERS: dict = {
    "smart": lambda df: _smart_resolution(F.col("conflict_type")),
    "vision_wins": lambda df: F.lit("vision_wins"),
    "rule_wins": lambda df: F.lit("rule_wins"),
}


def register_comparator(name: str, fn) -> None:
    """U1 extension point: fn(Column, Column) -> boolean Column."""
    COMPARATORS[name] = fn


def register_arbiter(name: str, fn) -> None:
    """U2 extension point: fn(conflicts DataFrame) -> string Column
    ('vision_wins' | 'rule_wins' per row)."""
    ARBITERS[name] = fn


def custom_match(v1, v2, comparator_names=None):
    """OR-composition of registered comparators — the cascade shape the
    reference runs (any comparator passing ⇒ values match)."""
    names = comparator_names or list(COMPARATORS)
    out = F.lit(False)
    for name in names:
        out = out | COMPARATORS[name](v1, v2)
    return out


def arbitrate_with(conflicts: DataFrame, arbiter: str = "smart") -> DataFrame:
    """Resolve a conflicts frame with a registry-selected arbiter (U2)."""
    resolution = ARBITERS[arbiter](conflicts)
    return conflicts.withColumn("resolution", resolution).withColumn(
        "resolved_value",
        _resolved_value(F.col("resolution"), F.col("vision_value"), F.col("rule_value")),
    )
