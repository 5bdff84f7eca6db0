"""The benchmark's definition: workloads, metrics and their bounds.

    python3 perfbench/config.py      # rewrites BENCHMARK.json

BENCHMARK.json at the repository root is generated from this file, so
the metric names the runner prints and the names the file declares
cannot drift apart.
"""

from __future__ import annotations

import json
import os

import gen

RUN_SECONDS = 5

WORKLOADS = [
    # Cheapest first, so warm-up runs of the first workload cost least.
    {"name": "corpus_dedup", "why": (
        "dedup batch: filter, exact dedup, MinHash LSH, components, survivors"
        " over 2000 seeded docs, 14% with planted duplicates; operator,"
        " per-job, shuffle and cache cost, no commits")},
    {"name": "sql_read", "why": (
        "analyst session: 32 SELECTs per deck from 16 Zipf-weighted templates"
        " over a managed sf0.1 star schema (600k lineitems); per-statement"
        " rewrite, planning and job cost")},
    {"name": "sql_write", "why": (
        "ingest with readers: 31-statement decks, 77% writes (insert, upsert,"
        " update, delete, txn, 4 OPTIMIZEs) on PK/CHECK/DEFAULT tables of"
        " 20k+ rows; commit, probe and compaction cost")},
]

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_gmean_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "warehouse_mb", "unit": "MB", "better": "lower", "bound": 0.1},
]

STAGES = ("filter", "exact_dedup", "lsh_pairs", "components", "survivors")


def per_layer() -> list[dict]:
    def m(name, unit):
        return {"name": name, "unit": unit, "better": "lower"}

    out = [
        m("session.build_ms", "ms"), m("api.open_ms", "ms"),
        m("api.load_ms", "ms"),
    ]
    for cls in gen.READ_CLASSES + gen.WRITE_CLASSES:
        out += [
            m(f"api.execute_ms.{cls}", "ms"),
            m(f"api.driver_gap_ms.{cls}", "ms"),
            m(f"spark.jobs.{cls}", "count"),
            m(f"spark.job_ms.{cls}", "ms"),
            m(f"spark.tasks.{cls}", "count"),
        ]
    out += [m(f"api.plan_ms.{cls}", "ms") for cls in gen.READ_CLASSES]
    out.append(m("api.explain_jobs", "count"))
    for cls in gen.WRITE_CLASSES:
        out += [m(f"api.commit_files.{cls}", "count"),
                m(f"api.commit_kb.{cls}", "KiB")]
    out.append(m("api.live_files", "count"))
    for st in STAGES:
        out += [
            m(f"operators.{st}.build_ms", "ms"),
            m(f"operators.{st}.build_jobs", "count"),
            m(f"operators.{st}.run_ms", "ms"),
            m(f"operators.{st}.jobs", "count"),
            m(f"operators.{st}.analysis_ms", "ms"),
            m(f"operators.{st}.optimization_ms", "ms"),
            m(f"operators.{st}.planning_ms", "ms"),
            m(f"spark.shuffle_kb.{st}", "KiB"),
        ]
    out += [
        m("operators.lsh.candidates", "count"),
        m("operators.lsh.verified", "count"),
        {"name": "operators.lsh.yield", "unit": "ratio", "better": "higher"},
        {"name": "operators.lsh.recall", "unit": "ratio", "better": "higher"},
        m("caching.cached_mb_peak", "MB"),
        {"name": "caching.released", "unit": "count", "better": "higher"},
        m("caching.release_ms", "ms"),
        m("trace.overhead_frac", "ratio"),
    ]
    return out


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": END_TO_END,
        "per_layer": per_layer(),
    }


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
