"""The benchmark's workloads and their jobs.

A job is two timed calls, ``build()`` and ``act(df)``, plus a check run
outside the timed window. ``act`` always computes every output column
(``collect`` or a full write); no job times ``count()``.

Membership is fixed per workload; the seed only orders the registry jobs
and generates the datasheet corpus. README.md gives the reasons per
workload, and why only two of them are gated.
"""

from __future__ import annotations

import glob
import json
import os
import random
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import corpus as corpus_mod

# Gated (BENCHMARK.json): bounded availableNow drains, where almost all the
# wall is micro-batch planning, state-store commit and offset/commit log
# writes inside the builder call.
STREAMING_DRAIN = [
    "t41_streaming_interval_join",    # stream-stream interval join state
    "t81_streaming_dedup_watermark",  # dedup-within-watermark state
]
# Runnable but not gated, because a run of either takes minutes:
# sql_inventory, all 79 q* entries (q47_distribution_windows fails its sf0.1
# oracle, a program defect, and stays in), and the heavy LLM-data-curation
# batch entries below.
CURATION_BATCH = [
    "t02b_minhash_lsh_md5_oracle",
    "t03b_simhash_md5_oracle",
    "t07c_hyperplane_md5_oracle",
    "t94_substring_dedup_corpus",
    "t20_ann_ivf_kmeans",
    "t44_pagerank",
    "t59_correlation_matrix",
    "t49_fuzzy_dedup_corpus",
    "t107_frequent_ngrams_hashed",
    "t17_graph_copurchase",
    "t72_ann_two_stage_rerank",
    "t96_dsir_importance_select",
    "t147_polymorphic_udtf",
    "t131_arrow_native_grouped",
]
DATASHEET_DOCS = 200

GATED = ("streaming_drain", "datasheet_pipeline")
WORKLOADS = GATED + ("sql_inventory", "curation_batch")


@dataclass
class Job:
    name: str
    build: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    build_layer: str = "plans.build_s"
    act_layer: str = "spark.action_s"


def collect(df) -> tuple[list[str], list]:
    """The materialising action: every output column, every row."""
    return list(df.columns), df.collect()


def registry_names(workload: str) -> list[str]:
    if workload == "sql_inventory":
        from datasheet_etl_spark.plans import registry

        return [k for k in registry() if k.startswith("q")]
    return {"streaming_drain": STREAMING_DRAIN, "curation_batch": CURATION_BATCH}[workload]


def registry_jobs(names: list[str], spark, sf_dir: str, oracle, seed: int) -> list[Job]:
    from datasheet_etl_spark.plans import registry

    reg = registry()
    order = list(names)
    random.Random(seed).shuffle(order)

    def make(name: str) -> Job:
        return Job(
            name=name,
            build=lambda: reg[name](spark, sf_dir),
            act=collect,
            check=lambda out: oracle.check(name, *out),
        )

    return [make(n) for n in order]


class Datasheet:
    """The paper's flow over a seeded corpus: ingest (read + lift),
    run_pipeline → write_result_json, then the three exports over the
    written result read back with its pinned schema, as the CLI's
    ``export`` command does. One pass = four jobs, in this order.

    Set-up stages the corpus as parquet, so each pass ingests it from
    storage like a batch job would; a DataFrame built from a Python list
    would instead re-run Python workers for every branch of the plan."""

    def __init__(self, spark, seed: int, work_dir: str, n_docs: int = DATASHEET_DOCS):
        from datasheet_etl_spark.pipeline import TABLE_SCHEMA, mock_rule_tables, mock_vision_tables
        from datasheet_etl_spark.sources.pdf_bridge import PAGE_SCHEMA

        self.spark, self.out_dir = spark, work_dir
        self.corpus = corpus_mod.generate(seed, n_docs)
        self.n_docs = self.corpus.n_docs
        self.paths = {k: os.path.join(work_dir, f"corpus_{k}") for k in ("vision", "pages", "golden_rule")}
        frames = {
            "vision": spark.createDataFrame(self.corpus.vision, TABLE_SCHEMA).unionByName(
                mock_vision_tables(spark)
            ),
            "pages": spark.createDataFrame(self.corpus.pages, PAGE_SCHEMA),
            "golden_rule": mock_rule_tables(spark),
        }
        for k, df in frames.items():
            df.write.parquet(self.paths[k])
        self._pass = 0

    def jobs(self) -> list[Job]:
        from datasheet_etl_spark import exporters, pipeline
        from datasheet_etl_spark.sources.pdf_bridge import lift_page_tables

        self._pass += 1
        path = os.path.join(self.out_dir, f"result_json_{self._pass}")
        state: dict[str, Any] = {}

        def run_pipeline():
            read = self.spark.read.parquet
            vision = read(self.paths["vision"])
            rule = lift_page_tables(read(self.paths["pages"])).unionByName(read(self.paths["golden_rule"]))
            state["result"], _ = pipeline.run_pipeline(self.spark, vision, rule)
            return state["result"]

        def write(result):
            pipeline.write_result_json(result, path)
            return path

        def check_results(out_path):
            records = []
            for part in sorted(glob.glob(os.path.join(out_path, "part-*"))):
                with open(part, encoding="utf-8") as fh:
                    records.extend(json.loads(line) for line in fh)
            errors = corpus_mod.check_results(self.corpus, records)
            if not errors:
                return None
            return "; ".join(errors[:3]) + (f" (+{len(errors) - 3} more)" if len(errors) > 3 else "")

        n = self.n_docs

        def check_review(out):
            cols, rows = out
            if len(rows) != n or any(not r["params"] for r in rows):
                return f"review format: {len(rows)} rows for {n} documents"
            return None

        def check_import(out):
            cols, rows = out
            if cols != exporters.IMPORT_SCRIPT_COLUMNS or len(rows) != n:
                return f"import script: {len(rows)} rows, columns {cols}"
            return None

        def check_stats(out):
            _, rows = out
            s = rows[0]
            if s["total"] != n or s["success"] + s["needs_review"] + s["conflict"] != n:
                return f"batch stats: {s.asDict()}"
            return None

        def export(name, fn, check):
            def build():
                return fn(self.spark.read.json(path, schema=state["result"].schema))

            return Job(
                name=name,
                build=build,
                act=collect,
                check=check,
                build_layer=f"exporters.{name}_s",
                act_layer=f"exporters.{name}_s",
            )

        return [
            Job(
                "write_result_json",
                build=run_pipeline,
                act=write,
                check=check_results,
                build_layer="pipeline.run_pipeline_s",
                act_layer="pipeline.write_result_json_s",
            ),
            export("to_review_format", exporters.to_review_format, check_review),
            export("import_script_frame", exporters.import_script_frame, check_import),
            export("batch_stats", exporters.batch_stats, check_stats),
        ]
