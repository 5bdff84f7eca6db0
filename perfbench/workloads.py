"""The three workloads. Each is one closed-loop client driving the engine
through its public entry points: ``AnalyticsEngine.execute``, the
``andb_spark.operators`` functions and ``caching.release_caches``.

A workload function takes a ``Bench`` (see run.py) and returns a dict
with the op latencies, the correctness outcome and, in a traced run,
its per-layer numbers.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

import config
import gen
import oracle

CORPUS_DOCS = 2000
# Warm set-up repetitions after the cold one. A warm sql_read set-up
# loads the star schema in about 5 s, and a run has to stay near 45 s.
WARM_SETUPS = 2


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


# ------------------------------------------------------------ set-up --


def setup(bench, load) -> list[float]:
    """Build the session, open an engine on a fresh warehouse, load the
    workload's data with ``load(engine)`` and answer one warm-up
    statement: once cold, then WARM_SETUPS times, stopping the
    SparkContext between repetitions (the JVM stays up). Returns the
    warm repetitions' times; the cold one, which also starts the JVM
    and compiles the load path, is left out of ``setup_s``. Leaves
    ``bench.engine`` open."""
    from andb_spark.api import AnalyticsEngine
    from andb_spark.session import build_session

    rec = bench.rec
    times = []
    for rep in range(1 + WARM_SETUPS):
        if bench.engine is not None:
            bench.engine.close()
            bench.spark.stop()
        t0 = time.perf_counter()
        with rec.span("session.build", warm=rep > 0):
            bench.spark = build_session(
                app_name="perfbench", extra_conf=bench.spark_conf
            )
        rec.spark = bench.spark
        bench.warehouse = os.path.join(bench.work, f"warehouse{rep}")
        with rec.span("api.open", warm=rep > 0):
            bench.engine = AnalyticsEngine(bench.warehouse, spark=bench.spark)
        with rec.span("api.load", warm=rep > 0):
            load(bench.engine)
        times.append(time.perf_counter() - t0)
    bench.phases["setup"] = sum(times)
    return times[1:]


def _layer_setup(rec) -> dict[str, float]:
    by = {}
    for s in rec.spans:
        if s.name in ("session.build", "api.open", "api.load") and s.attrs["warm"]:
            by.setdefault(s.name, []).append(s.ms)
    return {
        "session.build_ms": _median(by.get("session.build", [])),
        "api.open_ms": _median(by.get("api.open", [])),
        "api.load_ms": _median(by.get("api.load", [])),
    }


# ------------------------------------------------------ SQL op loop --


def _run_sql(bench, stmt: str, cls: str, kind: str, log: list[dict]):
    """Execute one statement (traced or not) and append its record to
    ``log``. Returns the result rows, or None if the engine raised."""
    eng, rec = bench.engine, bench.rec
    op = len(log)
    rec_ = {"cls": cls, "kind": kind}
    before = None
    if bench.trace and kind == "write":
        t = time.perf_counter()
        before = _dir_files(bench.warehouse)
        rec.overhead_s += time.perf_counter() - t
    if bench.trace:
        with rec.jobs("api.execute", op=op, cls=cls) as s:
            t0 = time.perf_counter()
            try:
                rows = eng.execute(stmt).rows
            except Exception as e:  # counted as failed, reported below
                rows, rec_["error"] = None, str(e)[:300]
            rec_["ms"] = (time.perf_counter() - t0) * 1e3
        jobs = s.attrs["jobs"]
        rec_["jobs"] = len(jobs)
        rec_["tasks"] = sum(j.tasks for j in jobs)
        rec_["job_ms"] = rec.covered_ms(s, jobs)
        rec_["gap_ms"] = s.ms - rec_["job_ms"]
    else:
        t0 = time.perf_counter()
        try:
            rows = eng.execute(stmt).rows
        except Exception as e:  # counted as failed, reported below
            rows, rec_["error"] = None, str(e)[:300]
        rec_["ms"] = (time.perf_counter() - t0) * 1e3
    if before is not None:
        t = time.perf_counter()
        after = _dir_files(bench.warehouse)
        new = [p for p in after if p not in before]
        rec_["commit_files"] = len(new)
        rec_["commit_kb"] = sum(after[p] for p in new) / 1024
        rec.overhead_s += time.perf_counter() - t
    if bench.trace and kind == "read" and rows is not None:
        t = time.perf_counter()
        with rec.jobs("api.plan", op=op, cls=cls) as s:
            eng.execute("explain " + stmt)
        rec_["plan_ms"] = s.ms
        rec_["explain_jobs"] = len(s.attrs["jobs"])
        rec.overhead_s += time.perf_counter() - t
    log.append(rec_)
    return rows


def _sql_layers(log: list[dict]) -> dict[str, float]:
    out = {}
    for cls in gen.READ_CLASSES + gen.WRITE_CLASSES:
        ops = [o for o in log if o["cls"] == cls and "jobs" in o]
        out[f"api.execute_ms.{cls}"] = _median([o["ms"] for o in ops])
        out[f"api.driver_gap_ms.{cls}"] = _median([o["gap_ms"] for o in ops])
        out[f"spark.jobs.{cls}"] = _mean([o["jobs"] for o in ops])
        out[f"spark.job_ms.{cls}"] = _median([o["job_ms"] for o in ops])
        out[f"spark.tasks.{cls}"] = _mean([o["tasks"] for o in ops])
    for cls in gen.READ_CLASSES:
        ops = [o for o in log if o["cls"] == cls and "plan_ms" in o]
        out[f"api.plan_ms.{cls}"] = _median([o["plan_ms"] for o in ops])
    for cls in gen.WRITE_CLASSES:
        ops = [o for o in log if o["cls"] == cls and "commit_files" in o]
        out[f"api.commit_files.{cls}"] = _mean([o["commit_files"] for o in ops])
        out[f"api.commit_kb.{cls}"] = _mean([o["commit_kb"] for o in ops])
    out["api.explain_jobs"] = sum(o.get("explain_jobs", 0) for o in log)
    return out


def live_files(bench, tables) -> dict[str, int]:
    """Data files of the tables' current manifests (read from the
    engine's andb_segments view) → size in bytes. A manifest entry is a
    segment directory or a single file inside one."""
    names = ", ".join(f"'{t}'" for t in tables)
    out = {}
    for t, entry in bench.engine.execute(
        "select table_name, entry from andb_segments "
        f"where table_name in ({names})"
    ).rows:
        p = os.path.join(bench.warehouse, t, entry)
        files = (
            [os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]
            if os.path.isdir(p) else [p]
        )
        for f in files:
            out[f] = os.path.getsize(f)
    return out


# ---------------------------------------------------------- sql_read --


def sql_read(bench) -> dict:
    src = os.path.join(bench.work, "star")
    os.makedirs(src)
    with bench.phase("inputs"):
        for name, table in gen.star_schema(bench.seed).items():
            pq.write_table(table, os.path.join(src, f"{name}.parquet"))
    warm = gen.read_statements(bench.seed, 1)[0][2]

    def load(eng):
        for t in gen.STAR_TABLES:
            eng.execute(
                f"create table {t} as select * from "
                f"parquet.`{os.path.join(src, t)}.parquet`"
            )
        eng.execute(warm)

    setup_times = setup(bench, load)
    log, executed = [], []
    t0 = time.perf_counter()
    deck = 0
    while time.perf_counter() - t0 < bench.seconds:
        deck += 1
        stmts = gen.read_statements(bench.seed, deck)[-gen.DECK_SIZE:]
        for _, cls, sql in stmts:
            rows = _run_sql(bench, sql, cls, "read", log)
            executed.append((sql, rows))
    wall = time.perf_counter() - t0
    live = live_files(bench, gen.STAR_TABLES)
    failed = {i for i, (_, rows) in enumerate(executed) if rows is None}
    ok = [(i, e) for i, e in enumerate(executed) if i not in failed]
    with bench.phase("check"):
        bad = oracle.check_reads(src, [e for _, e in ok])
    mismatched = {ok[j][0] for j in bad}
    res = {
        "setup": setup_times, "log": log, "wall": wall,
        "space_mb": sum(live.values()) / 2**20,
        "failed": failed | mismatched, "sql": [e[0] for e in executed],
    }
    if bench.trace:
        res["layers"] = {
            **_layer_setup(bench.rec), **_sql_layers(log),
            "api.live_files": len(live),
        }
    return res


# --------------------------------------------------------- sql_write --


def sql_write(bench) -> dict:
    setup_sql = gen.write_setup()

    def load(eng):
        for s in setup_sql:
            eng.execute(s)
        eng.execute("select count(*) from accounts")

    setup_times = setup(bench, load)
    log, executed = [], []
    t0 = time.perf_counter()
    deck = 0
    n_deck = len(gen.write_statements(bench.seed, 1))
    while time.perf_counter() - t0 < bench.seconds:
        deck += 1
        for kind, cls, sql in gen.write_statements(bench.seed, deck)[-n_deck:]:
            rows = _run_sql(bench, sql, cls, kind, log)
            executed.append((kind, sql, rows))
    wall = time.perf_counter() - t0
    live = live_files(bench, gen.WRITE_TABLES)
    final = {
        t: bench.engine.execute(f"select * from {t}").rows
        for t in gen.WRITE_TABLES
    }
    with bench.phase("check"):
        bad = oracle.replay_writes(setup_sql, executed, final)
    failed = {i for i, (_, _, rows) in enumerate(executed) if rows is None}
    res = {
        "setup": setup_times, "log": log, "wall": wall,
        "space_mb": sum(live.values()) / 2**20,
        "failed": failed | {i for i in bad if i >= 0},
        "state_ok": -1 not in bad, "sql": [e[1] for e in executed],
    }
    if bench.trace:
        res["layers"] = {
            **_layer_setup(bench.rec), **_sql_layers(log),
            "api.live_files": len(live),
        }
    return res


# ------------------------------------------------------ corpus_dedup --

MIN_TOKENS = 20
LSH_THRESHOLD = 0.5
# Planted near-duplicate pairs have shingle Jaccard above 0.9, which 4
# bands of 2 MinHash rows find with probability above 0.999.
RECALL_FLOOR = 0.95


def _pipeline(docs):
    """The dedup pipeline as (stage, build function) pairs; each build
    function returns the DataFrame the pass collects for that stage, and
    later ones read the earlier stages' frames from ``frames``."""
    from pyspark.sql import functions as F

    from andb_spark.functions.text import token_count
    from andb_spark.operators.dedup import (
        connected_components, exact_dedup, minhash_lsh_pairs,
    )

    frames = {}

    def b_filter():
        frames["kept"] = docs.where(token_count("text") >= MIN_TOKENS)
        return frames["kept"].select("doc_id")

    def b_exact():
        frames["ex"] = exact_dedup(frames["kept"], "text", "doc_id")
        frames["uniq"] = frames["kept"].join(frames["ex"], "doc_id", "left_semi")
        return frames["ex"]

    def b_lsh():
        frames["pairs"] = minhash_lsh_pairs(
            frames["uniq"], "text", "doc_id", threshold=LSH_THRESHOLD,
            checkpoint_shingles=True,
        )
        return frames["pairs"]

    def b_components():
        frames["comps"] = connected_components(frames["pairs"])
        return frames["comps"]

    def b_survivors():
        dup = frames["comps"].where(F.col("node") != F.col("component_id"))
        uniq = frames["uniq"]
        return uniq.join(dup, uniq.doc_id == dup.node, "left_anti").select("doc_id")

    return [
        ("filter", b_filter), ("exact_dedup", b_exact), ("lsh_pairs", b_lsh),
        ("components", b_components), ("survivors", b_survivors),
    ]


def _phases(df) -> dict[str, float]:
    """Catalyst phase times of the frame's QueryExecution (a Scala map
    of phase name → PhaseSummary)."""
    ph = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = ph.get(k)
        if opt.isDefined():
            out[k] = float(opt.get().durationMs())
    return out


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _dedup_pass(bench, docs, op: int) -> tuple[dict, dict]:
    """One pipeline pass. Returns (outputs, per-stage trace)."""
    from andb_spark.caching import release_caches

    rec, spark = bench.rec, bench.spark
    outputs, stages = {}, {}
    for stage, build in _pipeline(docs):
        st = {}
        if bench.trace:
            with rec.jobs(f"operators.{stage}.build", op=op) as s:
                df = build()
            st["build_ms"], st["build_jobs"] = s.ms, len(s.attrs["jobs"])
            st["shuffle_kb"] = sum(j.shuffle_kb for j in s.attrs["jobs"])
            with rec.jobs(f"operators.{stage}.run", op=op) as s:
                rows = df.collect()
            st["run_ms"], st["jobs"] = s.ms, len(s.attrs["jobs"])
            st["shuffle_kb"] += sum(j.shuffle_kb for j in s.attrs["jobs"])
            t = time.perf_counter()
            st.update(_phases(df))
            st["cached_mb"] = _cached_mb(spark)
            rec.overhead_s += time.perf_counter() - t
        else:
            rows = build().collect()
        outputs[stage] = rows
        stages[stage] = st
    if bench.trace:
        with rec.span("caching.release", op=op) as s:
            stages["released"] = release_caches()
        stages["release_ms"] = s.ms
    else:
        release_caches()
    return outputs, stages


def _expected_dedup(texts: dict[int, str]):
    kept = {i for i, t in texts.items() if len(oracle.tokens(t)) >= MIN_TOKENS}
    first: dict[str, int] = {}
    for i in sorted(kept):
        first.setdefault(texts[i], i)
    return kept, set(first.values())


def _check_dedup(texts, near, outputs) -> tuple[int, int, float]:
    """Check one pass's outputs. Returns (checks attempted, checks
    failed, recall of the planted near-duplicate pairs)."""
    kept, uniq = _expected_dedup(texts)
    pairs = [(r[0], r[1]) for r in outputs["lsh_pairs"]]
    fails = 0
    fails += {r[0] for r in outputs["filter"]} != kept
    fails += {r[0] for r in outputs["exact_dedup"]} != uniq
    # precision: every reported pair is a real near-duplicate
    fails += any(
        a not in uniq or b not in uniq
        or oracle.jaccard(texts[a], texts[b]) < LSH_THRESHOLD
        for a, b in pairs
    )
    comp = oracle.components(pairs)
    fails += {(r[0], r[1]) for r in outputs["components"]} != set(comp.items())
    survivors = {i for i in uniq if comp.get(i, i) == i}
    fails += {r[0] for r in outputs["survivors"]} != survivors
    truth = {(a, b) for a, b in near if a in uniq and b in uniq}
    found = set(pairs)
    recall = len(truth & found) / len(truth) if truth else 1.0
    fails += recall < RECALL_FLOOR
    return 6, fails, recall


def _lsh_counts(bench, docs) -> tuple[int, int]:
    """Candidate and verified pair counts of the LSH stage, outside the
    timed pass (same parameters as minhash_lsh_pairs' defaults)."""
    from andb_spark.functions.text import token_count
    from andb_spark.operators.dedup import (
        exact_dedup, lsh_bands, lsh_candidate_pairs, minhash_lsh_pairs,
        minhash_signatures,
    )
    from andb_spark.caching import release_caches

    kept = docs.where(token_count("text") >= MIN_TOKENS)
    uniq = kept.join(exact_dedup(kept, "text", "doc_id"), "doc_id", "left_semi")
    cands = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(uniq, "text", "doc_id"), "doc_id"),
        "doc_id",
    ).count()
    verified = minhash_lsh_pairs(
        uniq, "text", "doc_id", threshold=LSH_THRESHOLD
    ).count()
    release_caches()
    return cands, verified


def corpus_dedup(bench) -> dict:
    src = os.path.join(bench.work, "docs.parquet")
    with bench.phase("inputs"):
        table, near = gen.corpus(bench.seed, CORPUS_DOCS)
        pq.write_table(table, src)
    texts = dict(zip(table.column("doc_id").to_pylist(),
                     table.column("text").to_pylist()))

    def load(eng):
        eng.execute(f"create table docs as select * from parquet.`{src}`")
        eng.execute("select count(*) from docs")

    setup_times = setup(bench, load)
    docs = bench.spark.table("docs")
    lat, outs, traces = [], [], []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < bench.seconds:
        t = time.perf_counter()
        outputs, st = _dedup_pass(bench, docs, len(lat))
        lat.append((time.perf_counter() - t) * 1e3)
        outs.append(outputs)
        traces.append(st)
    wall = time.perf_counter() - t0
    with bench.phase("check"):
        checks = [_check_dedup(texts, near, o) for o in outs]
    recall = _median([r for _, _, r in checks])
    res = {
        "setup": setup_times, "lat": lat, "wall": wall,
        "space_mb": sum(live_files(bench, ["docs"]).values()) / 2**20,
        "attempted": sum(n for n, _, _ in checks),
        "n_failed": sum(f for _, f, _ in checks),
        "recall": recall, "docs": CORPUS_DOCS,
    }
    if bench.trace:
        cands, verified = _lsh_counts(bench, docs)
        layers = _layer_setup(bench.rec)
        for stage in config.STAGES:
            sts = [tr[stage] for tr in traces]

            def col(k):
                return [st.get(k, 0.0) for st in sts]

            p = f"operators.{stage}."
            layers.update({
                p + "build_ms": _median(col("build_ms")),
                p + "build_jobs": _mean(col("build_jobs")),
                p + "run_ms": _median(col("run_ms")),
                p + "jobs": _mean(col("jobs")),
                p + "analysis_ms": _median(col("analysis")),
                p + "optimization_ms": _median(col("optimization")),
                p + "planning_ms": _median(col("planning")),
                f"spark.shuffle_kb.{stage}": _median(col("shuffle_kb")),
            })
        layers["operators.lsh.candidates"] = cands
        layers["operators.lsh.verified"] = verified
        layers["operators.lsh.yield"] = verified / cands if cands else 0.0
        layers["operators.lsh.recall"] = res["recall"]
        layers["caching.cached_mb_peak"] = max(
            (tr[s]["cached_mb"] for tr in traces for s in config.STAGES), default=0.0
        )
        layers["caching.released"] = _mean([tr["released"] for tr in traces])
        layers["caching.release_ms"] = _median([tr["release_ms"] for tr in traces])
        res["layers"] = layers
    return res
