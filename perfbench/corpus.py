"""Seeded datasheet corpus for the ``datasheet_pipeline`` workload, and the
checker that grades the pipeline's output against what was planted.

Every generated document carries one 8-row Electrical Characteristics
table, seen twice:

- the rule side as pdfplumber-shaped page rows (``PAGE_SCHEMA``), which the
  workload lifts with ``sources.pdf_bridge.lift_page_tables``;
- the vision side as ``pipeline.TABLE_SCHEMA`` rows.

The two sides differ by planted discrepancies. Some must NOT surface as
conflicts (unit aliases, numeric-format variants, a dropped trailing rule
row, which the verifier's zip truncates); the rest must surface exactly
once each (real value conflicts, real unit conflicts, title and table_id
mismatches). ``expected`` records, per document, the conflicts the
verifier has to report, so the checker never re-implements the verifier.

The golden LMR51430 pair (``pipeline.mock_vision_tables`` /
``mock_rule_tables``) joins the corpus as one more document.
"""

from __future__ import annotations

import json
import random
from dataclasses import asdict, dataclass

HEADERS = ["Parameter", "Test Condition", "Min", "Typ", "Max", "Unit"]
STATS = ("Min", "Typ", "Max")
ROWS_PER_TABLE = 8
GOLDEN_KEY = "lmr51430.pdf"

# (parameter, test condition, unit, rule-side aliases of that unit,
#  a different unit for a planted unit conflict, stats present, value range)
PARAMETERS = [
    ("Input Voltage Range", "", "V", ["volts", "volt"], "mV", ("Min", "Max"), (2.5, 60.0)),
    ("Output Voltage", "Adjustable", "V", ["volts"], "mV", ("Min", "Max"), (0.6, 28.0)),
    ("Output Current", "Continuous", "A", ["amp", "amps"], "mA", ("Max",), (0.1, 6.0)),
    ("Quiescent Current", "Non-switching", "µA", ["uA", "μA"], "mA", ("Typ", "Max"), (5.0, 900.0)),
    ("Shutdown Current", "EN = 0 V", "µA", ["uA", "ua"], "nA", ("Typ",), (0.1, 12.0)),
    ("Switching Frequency", "", "kHz", ["khz", "kilohertz"], "MHz", ("Min", "Typ", "Max"), (100.0, 2200.0)),
    ("Efficiency", "IOUT = 1 A", "%", [], "ppm", ("Typ",), (70.0, 97.0)),
    ("Reference Voltage", "", "mV", ["millivolt", "mv"], "V", ("Min", "Typ", "Max"), (590.0, 1210.0)),
    ("Soft-Start Time", "", "ms", ["millisecond", "millisec"], "µs", ("Typ",), (0.5, 10.0)),
    ("Thermal Shutdown", "Rising", "°C", ["degC", "celsius"], "°F", ("Typ",), (140.0, 175.0)),
    ("High-Side On Resistance", "", "mΩ", [], "Ω", ("Typ", "Max"), (20.0, 400.0)),
    ("Feedback Leakage", "VFB = 1 V", "nA", [], "µA", ("Max",), (1.0, 200.0)),
]

# planting rates per document
P_UNIT_ALIAS = 0.35     # per row: rule side writes a unit alias (no conflict)
P_FORMAT = 0.3          # per stat cell: rule side re-formats the number (no conflict)
P_DROP = 0.15           # rule side drops its last row (zip-truncated, no conflict)
P_UNIT_CONFLICT = 0.15  # one row carries a genuinely different unit
P_TITLE = 0.1           # vision title differs
P_TABLE_ID = 0.1        # vision table_id differs
VALUE_CONFLICTS = (0, 0, 0, 1, 1, 2, 3)  # drawn per document
CONFLICT_FACTORS = (0.5, 0.7, 1.5, 2.0)  # ≥ 30% relative difference

def _fmt(x: float) -> str:
    return f"{x:g}"


@dataclass(frozen=True)
class Corpus:
    seed: int
    pages: list        # PAGE_SCHEMA tuples (rule side, before the lift)
    vision: list       # TABLE_SCHEMA tuples (vision side)
    expected: dict     # key -> sorted [field, vision_value, rule_value, resolution] lists
    n_params: dict     # key -> number of flat parameters the result must carry

    @property
    def n_docs(self) -> int:
        """Documents the pipeline sees, the golden one included."""
        return len(self.expected) + 1

    def to_bytes(self) -> bytes:
        return json.dumps(asdict(self), sort_keys=True, ensure_ascii=False).encode()


def _doc(rng: random.Random, key: str):
    page = rng.randint(2, 12)
    params = rng.sample(PARAMETERS, ROWS_PER_TABLE)
    vision_rows, rule_rows, expected = [], [], []
    n_params = 0
    for pos, (name, cond, unit, aliases, _, stats, (lo, hi)) in enumerate(params):
        v_row = {h: "" for h in HEADERS}
        v_row.update({"Parameter": name, "Test Condition": cond, "Unit": unit})
        r_row = dict(v_row)
        # never 0: a scaled 0 would still match, so it could not carry a conflict
        values = sorted(
            round(rng.uniform(lo, hi), rng.choice((0, 1, 2))) or lo for _ in stats
        )
        for stat, x in zip(stats, values):
            v_row[stat] = _fmt(x)
            r_row[stat] = f"{x:.2f}" if rng.random() < P_FORMAT else _fmt(x)
        if aliases and rng.random() < P_UNIT_ALIAS:
            r_row["Unit"] = rng.choice(aliases)
        n_params += len(stats) + 1
        vision_rows.append(v_row)
        rule_rows.append(r_row)

    if rng.random() < P_DROP:
        rule_rows.pop()
    compared = len(rule_rows)  # the verifier zips rows: only these compare

    cells = [(pos, stat) for pos in range(compared) for stat in STATS if vision_rows[pos][stat]]
    for pos, stat in rng.sample(cells, rng.choice(VALUE_CONFLICTS)):
        wrong = _fmt(float(vision_rows[pos][stat]) * rng.choice(CONFLICT_FACTORS))
        rule_rows[pos][stat] = wrong
        expected.append((f"row[{pos}].{stat}", vision_rows[pos][stat], wrong, "vision_wins"))
    if rng.random() < P_UNIT_CONFLICT:
        pos = rng.randrange(compared)
        other = params[pos][4]
        rule_rows[pos]["Unit"] = other
        expected.append((f"row[{pos}].Unit", vision_rows[pos]["Unit"], other, "rule_wins"))

    rule_title, rule_table_id = f"Page {page} Table", f"page_{page}_table_1"
    title, table_id = rule_title, rule_table_id
    if rng.random() < P_TITLE:
        title = "Electrical Characteristics"
        expected.append(("title", title, rule_title, "vision_wins"))
    if rng.random() < P_TABLE_ID:
        table_id = "ec_table"
        expected.append(("table_id", table_id, rule_table_id, "vision_wins"))

    pages = [
        (key, 1, f"{key} datasheet", [], 612.0, 792.0),
        (
            key,
            page,
            "Electrical Characteristics",
            [[HEADERS, *[[r[h] for h in HEADERS] for r in rule_rows]]],
            612.0,
            792.0,
        ),
    ]
    vision = (
        key,
        table_id,
        title,
        list(HEADERS),
        vision_rows,
        round(rng.uniform(0.85, 0.99), 2),
        "vision",
        "gpt-4o-mini",
        0.002,
    )
    return pages, vision, sorted(list(c) for c in expected), n_params


def generate(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` generated documents (plus the golden one, added by the
    workload). Same seed, same bytes."""
    rng = random.Random(seed)
    pages, vision, expected, n_params = [], [], {}, {}
    for i in range(n_docs):
        key = f"ds{seed % 100000:05d}_{i:05d}_buck.pdf"
        p, v, e, n = _doc(rng, key)
        pages.extend(p)
        vision.append(v)
        expected[key] = e
        n_params[key] = n
    return Corpus(seed=seed, pages=pages, vision=vision, expected=expected, n_params=n_params)


def check_results(corpus: Corpus, results: list[dict]) -> list[str]:
    """Grade the pipeline's result records (``write_result_json`` lines,
    parsed) against the plant. Returns one message per defect."""
    errors = []
    by_key = {r["key"]: r for r in results}
    want_keys = set(corpus.expected) | {GOLDEN_KEY}
    if len(results) != len(by_key) or set(by_key) != want_keys:
        missing = sorted(want_keys - set(by_key))[:3]
        extra = sorted(set(by_key) - want_keys)[:3]
        errors.append(
            f"result keys: {len(results)} rows, {len(by_key)} distinct, "
            f"missing {missing}, unexpected {extra}"
        )

    golden = by_key.get(GOLDEN_KEY)
    if golden is not None:
        v = golden["verification"]
        n = len(json.loads(golden["parameters_json"] or "{}"))
        if (v["status"], v["confidence"], v["conflict_count"], n) != ("verified", 0.99, 1, 14):
            errors.append(
                f"golden {GOLDEN_KEY}: status={v['status']} confidence={v['confidence']} "
                f"conflicts={v['conflict_count']} parameters={n}"
            )

    for key, want in corpus.expected.items():
        r = by_key.get(key)
        if r is None:
            continue
        got = sorted(
            [c["field"], c["vision_value"], c["rule_value"], c["resolution"]]
            for c in r.get("conflicts") or []
        )
        v = r["verification"]
        if got != want:
            errors.append(f"{key}: conflicts {got} != planted {want}")
        elif v["conflict_count"] != len(want):
            errors.append(f"{key}: conflict_count {v['conflict_count']} != {len(want)}")
        elif not want and (v["status"], v["confidence"]) != ("verified", 1.0):
            errors.append(f"{key}: clean document scored {v['status']} {v['confidence']}")
        n = len(json.loads(r["parameters_json"] or "{}"))
        if n != corpus.n_params[key]:
            errors.append(f"{key}: {n} parameters != {corpus.n_params[key]}")
    return errors
