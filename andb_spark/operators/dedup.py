"""Deduplication operators for LLM training-data pipelines.

North-star surface (build brief): exact dedup, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup (the last lives in
``operators/similarity.py``). The reference has no dedup at all; its
closest relative is the vector type + cosine builtin
(andb/catalog/type.py:237-280, catalog/buitin_functions.py:3-12).

Design constraints honored here:
- Everything is pure Catalyst expressions (md5/split/explode/groupBy) —
  JVM-side, whole-stage-codegen'd, no Python UDFs. The same hash math is
  expressible in ANSI SQL, which is what makes these operators
  oracle-checkable against DuckDB.
- MinHash signatures use md5 hex strings ordered lexicographically
  (fixed-width hex ⇒ lexicographic order == numeric order), so "min
  hash" never needs a 64-bit integer conversion that engines disagree
  on.
- At 100 TB: the only shuffles are the groupBys on (doc, hash-slot) and
  the band-bucket self-join. Band signatures are high-entropy md5s ⇒
  near-uniform shuffle keys, no skew. Candidate verification joins only
  the candidate pairs' shingle arrays, not all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from andb_spark.functions.text import tokens

# The shared session-level cache registry lives in andb_spark.caching
# (dedup, sampling, bloom and the workloads all register there). These
# aliases keep the long-standing import sites working: bench.py,
# tools/compare.py and several workloads call
# ``dedup.release_caches()`` / ``dedup._persist_tracked``.
from andb_spark.caching import (  # noqa: F401  (re-export)
    checkpoint_tracked as _checkpoint_tracked,
    persist_tracked as _persist_tracked,
    release_caches,
)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).

    Built by zipping n shifted slices of the token array — O(tokens)
    per row. (The indexed formulation, transform(sequence, i ->
    element_at(words, i+j)), is O(tokens²) because element_at walks the
    array per access; it benched ~9× slower on real documents.)
    Fewer than n tokens → empty array (slice lengths clamp to 0)."""
    text = F.col(text) if isinstance(text, str) else text
    words = tokens(text)
    length = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.slice(words, 1, length)
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(words, j, length),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.array_distinct(grams)


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text). Returns one row per
    duplicated content hash with the group size and the survivor id
    (min id — the canonical "keep-first" policy)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct text. Returns the
    surviving ids. Equivalent plan to a groupBy-min — one shuffle."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


_SPREAD_BYTES_PER_PARTITION = 64 * 1024

# Logical operators that keep their child's partitioning, so an
# explicit repartition below them still fixes the frame's width.
_NARROW_NODES = ("Project", "Filter", "Generate")


def _explicit_partitions(plan) -> int | None:
    """Partition count a logical plan pins by construction, or None
    when only execution would tell (a scan's split count, an AQE-
    coalesced shuffle). Walks down through narrow operators to the
    first node that decides the width: an explicit repartition(n), a
    repartition by expression with an explicit n, or an RDD-backed
    leaf (a checkpoint) whose partitions already exist."""
    while True:
        name = plan.nodeName()
        if name == "Repartition" and plan.shuffle():
            return int(plan.numPartitions())
        if name == "RepartitionByExpression":
            n = plan.optNumPartitions()
            return int(n.get()) if n.isDefined() else None
        if name == "LogicalRDD":
            return int(plan.rdd().getNumPartitions())
        if name not in _NARROW_NODES:
            return None
        plan = plan.child()


def spread_small_input(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out before a CPU-bound per-row stage, with a
    SIZE-DERIVED width (guide §2: scale-adaptive partitioning, not a
    constant tuned to either local mode or the cluster).

    The signature stage costs dozens of md5s per shingle, but it runs
    at the SCAN's parallelism — and a small corpus is often one parquet
    row group, so the whole stage lands on ONE core while the rest
    idle (stage-level profile, SCALE.md §7 "Minhash drift, root-caused":
    1-task 1.1–1.5 s stages under d_minhash_lsh at sf0.1).

    Width: one partition per ~64 KiB of the optimizer's input-size
    estimate, clamped to [1, defaultParallelism]. The earlier
    unconditional fan-out to defaultParallelism put 32 near-empty
    concurrent tasks on a sub-MB corpus, and the scheduling + GC +
    codegen-lock contention cost more than the parallelism bought
    (r15 width scan at sf0.1, cache released between runs:
    width 2 → 7.9 s, 4 → 3.3 s, 8 → 1.6 s, 16 → 1.8 s, 32 → 2.4 s
    best-of-3, and width 32's in-bench number degraded to 11.9 s under
    a loaded heap). The explicit repartition(N) is exempt from AQE
    coalescing, so the fan-out survives the small-data estimate that
    caused it.

    Decision rule, from planning-time information only — this runs NO
    jobs (asking ``df.rdd`` for its partition count executes every
    shuffle stage upstream under AQE, which cost a join-derived input
    two jobs and ~0.5–0.9 s while the caller was merely building):

    - the frame is returned untouched when its width is 1, when the
      plan pins an explicit partition count (a repartition(n) or a
      checkpoint, under narrow operators) of at least the width, or
      when the estimate alone spans ``defaultParallelism`` full file
      splits (``spark.sql.files.maxPartitionBytes`` each) — at 100 TB
      the scan already carries thousands of splits, and no shuffle is
      added;
    - otherwise it is repartitioned to the width — one cheap shuffle
      of the raw rows to spread the compute."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().optimizedPlan()
    try:
        est = int(plan.stats().sizeInBytes())
    except Exception:
        est = 0
    if est <= 0:  # no usable estimate: the old conservative behavior
        width = target
    else:
        width = max(
            1, min(target, -(-est // _SPREAD_BYTES_PER_PARTITION))
        )
    if width <= 1:
        return df
    pinned = _explicit_partitions(plan)
    if pinned is not None:
        return df if pinned >= width else df.repartition(width)
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if est >= target * int(split):
        return df
    return df.repartition(width)


def _doc_shingles(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh array<string>), one row per document. A document with
    fewer than n tokens has an empty array, explodes to no shingle,
    gets no signature and so is never a candidate. (No size filter
    here: Catalyst would push it below spread_small_input's exchange
    and shingle every document in the scan's tasks.)"""
    return df.select(F.col(id_col), shingles(text_col).alias("sh"))


def shingle_arrays(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document shingle arrays (id, sh) — the one shingle
    intermediate of the LSH pipeline: the signature stage explodes it,
    the verify stage intersects it. One row per document, so pinning
    it costs the corpus' row count, not its shingle count. Input is
    spread first (the per-shingle hashing downstream dominates; see
    spread_small_input)."""
    return _doc_shingles(spread_small_input(df), text_col, id_col)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature: (id, sig array<string>) where
    sig[h] = min over shingles of md5(h || '|' || shingle), compared as
    fixed-width hex strings.

    ``arrays``: a (pinned) ``shingle_arrays`` table of ``df`` to explode
    instead of re-shingling the text.

    Computed as one explode of the per-document shingle arrays followed
    by num_hashes codegen'd min-aggregates: the md5s run inside
    whole-stage codegen (a higher-order-function fold is interpreted
    per element and benches ~6× slower), and partial aggregation means
    the shuffle carries one row per (doc, partition), not per (doc,
    shingle, hash). (An earlier explode(shingle)×explode(h) formulation
    shuffled num_hashes×|shingles| rows — 8M at sf0.1 — and was ~10×
    slower end-to-end.)"""
    sh = arrays if arrays is not None else shingle_arrays(df, text_col, id_col)
    aggs = [
        F.min(
            F.md5(F.concat_ws("|", F.lit(h), F.col("shingle")))
        ).alias(f"_m{h}")
        for h in range(num_hashes)
    ]
    return (
        sh.select(F.col(id_col), F.explode("sh").alias("shingle"))
        .groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_m{h}") for h in range(num_hashes)]).alias("sig"),
        )
    )


def lsh_bands(
    signatures: DataFrame, id_col: str, num_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Fold per-doc signatures into LSH band rows: (id, band, band_sig).
    band_sig = md5 of the band's min-hashes concatenated in h order.
    Still per-row (a small explode of num_bands elements per doc)."""
    if not 1 <= rows_per_band <= num_hashes:
        raise ValueError(
            f"rows_per_band={rows_per_band} must be in [1, num_hashes="
            f"{num_hashes}] — larger values would yield ZERO bands and"
            " silently report no duplicates"
        )
    if num_hashes % rows_per_band:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into bands of"
            f" rows_per_band={rows_per_band} — a remainder would silently"
            " discard hash slots and weaken recall"
        )
    num_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ]
                    )
                ).alias("band_sig"),
            )
            for b in range(num_bands)
        ]
    )
    return (
        signatures.select(F.col(id_col), F.explode(bands).alias("bs"))
        .select(id_col, F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
    )


def lsh_candidate_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Band buckets → distinct candidate pairs (id_a < id_b).

    Formulated as a bucket self-join. Spark shares no subtrees across
    join inputs, so each side evaluates ``bands`` on its own: pass
    bands over PINNED signatures (as minhash_lsh_pairs does) and both
    sides read one cached evaluation, leaving only the per-row band
    fold duplicated. Measured cold end-to-end the self-join beats
    single-evaluation groupBy+collect_list+pair-explode formulations,
    whose extra plan shapes cost more in Janino/JIT compilation than
    the duplicated fold costs in data. A bucket of size k yields k²
    join rows — identical-signature skew is inherent to LSH
    candidates, not to this plan; AQE skew-join splits oversized
    buckets at scale."""
    a = bands.select(
        F.col("band"), F.col("band_sig"), F.col(id_col).alias("id_a")
    )
    b = bands.select(
        F.col("band"), F.col("band_sig"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs only (never all pairs).
    Returns (id_a, id_b, jaccard) with jaccard >= threshold, rounded to
    6 decimals for cross-engine stability.

    Each candidate pair is joined to both documents' shingle arrays
    and scored by array intersection: |A∩B| = size(array_intersect)
    (the arrays are distinct by construction), |A| and |B| their
    sizes — no shingle-level join, no per-pair regroup, no separate
    size aggregation. ``arrays`` is a (pinned) ``shingle_arrays``
    table covering ``df``'s candidate documents; without it the arrays
    are derived from ``df`` here, once per join side."""
    sh = arrays if arrays is not None else _doc_shingles(df, text_col, id_col)
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    counted = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    return _score_jaccard(counted, threshold)


def _score_jaccard(counted: DataFrame, threshold: float) -> DataFrame:
    """Shared tail of every exact-Jaccard scorer: from (id_a, id_b,
    n_inter, n_a, n_b) counts derive round(|∩|/|∪|, 6) and
    threshold-filter. ONE copy of the rounding convention the DuckDB
    oracles restate — jaccard_verify and ngram_jaccard_pairs must
    never drift apart on it."""
    return (
        counted.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("n_inter")
                ).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    materialize: bool = False,
    checkpoint_shingles: bool = False,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: near-duplicate pairs with exact
    Jaccard >= threshold among LSH candidates.

    Execution regimes (measured, not guessed; combinable). Building the
    pipeline runs no jobs in any regime — every pin below is a LAZY
    ``persist_tracked``, so EXPLAIN and the reuse advisor stay
    execution-free; the first action computes and caches each pinned
    frame, and later references read the cache. Pins last until
    ``caching.release_caches()`` (or the engine's per-statement
    release); a released frame recomputes on its next action.

    - every regime: the per-document signature frame is pinned, so the
      two sides of the band self-join (lsh_candidate_pairs) read one
      signature evaluation and one signature shuffle; and the returned
      pair frame is pinned — the MLlib-style "cache the small midpoint,
      never the corpus" pattern, bounded by the LSH candidate count —
      so every later consumer (the caller's collect, then
      ``connected_components``, a survivors anti-join) reads the cache
      instead of re-running signature → band → verify.
    - default (both flags False): shingles are derived from the text
      twice — once for the signatures, once for the verify join.
    - ``checkpoint_shingles``: pin the per-document shingle arrays
      (id, sh) and feed them to BOTH the signature stage (which
      explodes them) and the verify stage (which intersects them):
      tokenize/shingle runs once. Pin the arrays, never their explode:
      one row per document instead of one per shingle (~100× fewer
      rows to cache and to race concurrent cache-fill jobs over).
    - ``materialize``: persist the candidate set (tiny relative to the
      corpus) and, unless the arrays are pinned already, restrict
      verification to candidate documents via a semi-join. At 100 TB,
      where one corpus-wide pass costs hours and the shingle arrays are
      too big to store, this caps corpus shingling at the signature
      pass while materializing only candidate ids.
    """
    arrays = None
    if checkpoint_shingles:
        arrays = _persist_tracked(shingle_arrays(df, text_col, id_col))
    sigs = _persist_tracked(
        minhash_signatures(df, text_col, id_col, num_hashes, arrays)
    )
    bands = lsh_bands(sigs, id_col, num_hashes, rows_per_band)
    cands = lsh_candidate_pairs(bands, id_col)
    if materialize:
        cands = _persist_tracked(cands)
        if arrays is None:
            cand_ids = (
                cands.select(F.col("id_a").alias("_id"))
                .unionAll(cands.select(F.col("id_b").alias("_id")))
                .distinct()
            )
            df = df.join(cand_ids, df[id_col] == cand_ids["_id"], "left_semi")
    return _persist_tracked(
        jaccard_verify(df, cands, text_col, id_col, threshold, arrays)
    )


def band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """The maintainable LSH state: (id, band, band_sig) rows. MinHash
    signatures are a pure per-document function, so this table is
    append-only — each ingest increment computes bands for ITS docs
    only and appends them; history is never recomputed. At 100 TB,
    store it as a managed table bucketed by (band, band_sig) so the
    nightly increment-vs-history candidate join is shuffle-free on the
    history side."""
    return lsh_bands(
        minhash_signatures(df, text_col, id_col, num_hashes), id_col,
        num_hashes, rows_per_band,
    )


def incremental_minhash_pairs(
    history_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    history_bands: DataFrame | None = None,
    materialize: bool = False,
    eager: bool = False,
) -> DataFrame:
    """Near-dup pairs of an ingest INCREMENT against the HISTORICAL
    corpus — the production dedup shape (its exact-hash sibling is the
    anti-join in workloads d_incremental_dedup): signature work is
    proportional to the increment, never to history.

    Pass ``history_bands`` (the maintained ``band_table``) to skip
    recomputing historical signatures entirely; otherwise they are
    derived from ``history_df`` here. Verification (exact Jaccard) only
    ever shingles the increment plus the candidate history docs — the
    history side is restricted by a semi-join on candidate ids before
    any text processing, so a 100 TB history contributes only its
    (few) colliding documents to the verify stage.

    ``materialize``: lazily composed, the candidate pairs feed both the
    history restriction and the verify join, and the verify stage
    derives its shingle arrays once per pair side — the executed plan
    carries many corpus scans (exchange reuse catches only a few; AQE
    hides the recompute locally where stage overhead dominates, but
    repeated scans of a 100 TB corpus are the whole game at scale).
    With ``materialize`` the tiny candidate pair set and the
    increment-plus-hits shingle arrays are lazily persisted: the first
    action computes and caches them, capping corpus passes at three
    (two band tables + one verify shingle) while construction itself
    runs no jobs — EXPLAIN and the reuse advisor stay execution-free
    even over the opted-in workload query. At sf0.1 the two regimes
    are within ~0.5s of each other — local stage overhead, not scan
    cost, dominates there; the flag is about the scan multiplicity.

    ``eager`` (only meaningful with ``materialize``): materialize the
    candidate pairs and the verify shingle arrays via an EAGER
    ``localCheckpoint`` instead of a lazy persist. The checkpoint
    TRUNCATES the plan (guide §3.3): downstream references read a
    cached leaf instead of carrying the full replicated band-pipeline
    subtree, which cuts Catalyst analysis time (~1 s of driver-side
    gap at sf0.1 — the r15 job-timeline profile) and removes the
    concurrent-branch races that recompute a lazily-persisted frame
    several times before the first block lands. Both checkpointed
    frames are change-sized (candidate pairs; increment+hits
    shingles), never corpus-sized, so the materialization is bounded
    at any scale. The cost: construction now RUNS JOBS, so callers
    that must stay execution-free at build time (EXPLAIN, the reuse
    advisor, streaming foreachBatch composition) keep the default.

    Returns (id_a = history id, id_b = new id, jaccard >= threshold).
    New-vs-new duplicates inside the increment are the job of the
    ordinary ``minhash_lsh_pairs`` over the (small) increment.
    """
    hb = (
        history_bands
        if history_bands is not None
        else band_table(history_df, text_col, id_col, num_hashes, rows_per_band)
    )
    nb = band_table(new_df, text_col, id_col, num_hashes, rows_per_band)
    cands = (
        hb.select("band", "band_sig", F.col(id_col).alias("id_a"))
        .join(
            nb.select("band", "band_sig", F.col(id_col).alias("id_b")),
            ["band", "band_sig"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    if materialize:
        # persist (LAZY, like minhash_lsh_pairs): the first action
        # computes and caches the tiny pair set; later references read
        # the cache instead of re-deriving signatures. Building the
        # DataFrame stays execution-free, so EXPLAIN / the reuse
        # advisor can invoke this builder without running jobs.
        # ``eager`` trades that property for plan truncation (see
        # docstring) — the pair set is tiny either way.
        cands = (
            _checkpoint_tracked(cands)
            if eager
            else _persist_tracked(cands)
        )
    # id is document IDENTITY: if an id somehow appears on both sides
    # (a re-delivered doc with edited text that slipped past the exact
    # screen), keeping both rows would merge two texts' shingles under
    # one id and corrupt every Jaccard involving it. The NEW row
    # represents the id in verification; self-pairs are dropped.
    cands = cands.filter(F.col("id_a") != F.col("id_b"))
    hist_hit = history_df.join(
        cands.select(F.col("id_a").alias(id_col)).distinct(), id_col, "left_semi"
    ).join(new_df.select(id_col), id_col, "left_anti")
    verify_input = hist_hit.unionByName(new_df)
    arrays = None
    if materialize:
        sh = shingle_arrays(verify_input, text_col, id_col)
        arrays = _checkpoint_tracked(sh) if eager else _persist_tracked(sh)
    return jaccard_verify(
        verify_input, cands, text_col, id_col, threshold, arrays
    )


def passage_chunks(
    df: DataFrame, text_col: str, id_col: str, k: int = 16
) -> DataFrame:
    """Non-overlapping k-token passages of every document:
    (id, chunk_idx, n_tokens, chunk_text, chunk_hash). The unit of passage-level
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — exact substring dedup at passage granularity):
    exact-dup screening below document scope catches boilerplate and
    quoted passages document-level hashing misses. Tokenize once,
    explode a chunk-index sequence, slice — one narrow stage, no
    shuffle (the same machinery as workloads t_chunking)."""
    t = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
    return (
        t.withColumn("_n", F.ceil(F.size("_w") / F.lit(float(k))))
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_i"),
            "_w",
        )
        .select(
            id_col,
            F.col("_i").cast("int").alias("chunk_idx"),
            F.slice(F.col("_w"), F.col("_i") * k + 1, k).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("_chunk").cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.col("_chunk")).alias("chunk_text"),
        )
        .withColumn("chunk_hash", F.md5(F.col("chunk_text")))
    )


def repeated_passages(
    df: DataFrame, text_col: str, id_col: str, k: int = 16
) -> DataFrame:
    """Corpus-wide repeated-passage report: every k-token chunk that
    occurs 2+ times → (chunk_hash, n_docs, n_occurrences, first_doc,
    first_idx). One hash-keyed groupBy (md5 keys ⇒ uniform shuffle);
    the first occurrence is the min of a zero-padded sortable
    ``doc:idx`` string, a total order both engines agree on."""
    c = passage_chunks(df, text_col, id_col, k)
    # Bias ids by 2^63 (decimal math: bigint would overflow) before
    # zero-padding: a plain %020d mis-orders NEGATIVE ids ('-…05' sorts
    # before '-…10' lexicographically, inverting their numeric order),
    # silently reporting the wrong first occurrence for any caller with
    # signed-hash ids. Biased, every id is a non-negative 20-digit
    # string whose lexicographic order IS numeric order over the full
    # bigint range (multimodal ingest derives doc_ids up to ~9.2e18).
    key = F.concat(
        F.lpad(
            (
                F.col(id_col).cast("decimal(20,0)")
                + F.expr("CAST('9223372036854775808' AS DECIMAL(20,0))")
            ).cast("string"),
            20,
            "0",
        ),
        F.lit(":"),
        F.format_string("%09d", F.col("chunk_idx")),
    )
    agg = (
        c.groupBy("chunk_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(key).alias("_first"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )
    return agg.select(
        "chunk_hash",
        "n_docs",
        "n_occurrences",
        # un-bias: the packed key added 2^63 for sortability
        (
            F.split("_first", ":")[0].cast("decimal(20,0)")
            - F.expr("CAST('9223372036854775808' AS DECIMAL(20,0))")
        ).cast("bigint").alias("first_doc"),
        F.split("_first", ":")[1].cast("int").alias("first_idx"),
    )


def scrub_repeated_passages(
    df: DataFrame, text_col: str, id_col: str, k: int = 16
) -> DataFrame:
    """Passage-scrubbed corpus: drop every repeat of a duplicated
    passage except its global first occurrence (min (doc, idx) — so
    every distinct passage survives exactly once), then reassemble each
    document from its kept chunks in order. Returns (id, n_kept,
    n_dropped, scrubbed_hash) — the hash stands in for the rebuilt text
    so results stay compact and comparable.

    Scale: one row_number window keyed by chunk_hash (uniform md5
    partitions) + one groupBy(doc) for reassembly — two shuffles total,
    both corpus-chunk-sized, no all-pairs term anywhere. The reassembly
    collects k-token strings per doc, bounded by document length."""
    from pyspark.sql import Window

    c = passage_chunks(df, text_col, id_col, k)
    w = Window.partitionBy("chunk_hash").orderBy(id_col, "chunk_idx")
    marked = c.withColumn("_rn", F.row_number().over(w))
    kept = marked.withColumn(
        "_keep", (F.col("_rn") == 1).cast("int")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.sum("_keep").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("_keep")).alias("n_dropped"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_keep") == 1,
                                    F.struct("chunk_idx", "chunk_text"),
                                )
                            )
                        ),
                        lambda s: s["chunk_text"],
                    ),
                )
            ).alias("scrubbed_hash"),
        )
        .filter(F.col("n_kept") > 0)
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float
) -> DataFrame:
    """All-pairs exact n-gram Jaccard >= threshold, computed via an
    inverted index on shingles (shingle-equality join), NOT a cartesian
    product — the classic scalable formulation: only pairs sharing at
    least one shingle are ever materialized."""
    sh = df.select(
        F.col(id_col).alias("_id"), F.explode(shingles(text_col)).alias("shingle")
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    pairs = (
        sh.select(F.col("_id").alias("id_a"), "shingle")
        .join(sh.select(F.col("_id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    counted = pairs.join(
        sizes.select(F.col("_id").alias("id_a"), F.col("n_shingles").alias("n_a")),
        "id_a",
    ).join(
        sizes.select(F.col("_id").alias("id_b"), F.col("n_shingles").alias("n_b")),
        "id_b",
    )
    return _score_jaccard(counted, threshold)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over an undirected pair graph — the step
    that turns near-duplicate PAIRS into duplicate GROUPS (transitive
    closure: A~B, B~C ⇒ {A,B,C} share one canonical id). Returns
    (node, component_id) where component_id = min node id in the
    component, the standard keep-smallest-survivor convention.

    Distributed min-label propagation: each iteration every node takes
    the min of its own label and its neighbors' labels — one shuffle
    (join on the edge endpoint) + one aggregation per iteration,
    converging in O(graph diameter) rounds. Near-dup graphs are
    overwhelmingly small dense clusters, so diameter is tiny in
    practice.

    Scale mechanics:
    - ``edges`` is evaluated exactly once: its directed (src, dst)
      projection is materialized up front (localCheckpoint), and the
      symmetric edge set is a union of two scans of that checkpointed
      leaf — so neither the iteration nor the two directions of the
      union ever re-run an expensive upstream pair pipeline (a cached
      input such as ``minhash_lsh_pairs``' pinned pairs is read once).
      Each round's labels are checkpointed too, truncating the
      exponentially-growing lineage (on a cluster: checkpoint to
      reliable storage instead).
    - Convergence is detected with a changed-label count — one extra
      action per round on the (small) label table, not on the corpus.
    """
    directed = _checkpoint_tracked(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    und = directed.unionAll(
        directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    changed = 0  # defined even if max_iter <= 0 (for-else still fires)
    labels = _checkpoint_tracked(
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component_id", F.col("node"))
    )
    for _ in range(max_iter):
        nbr_min = und.join(labels, und.v == labels.node).groupBy("u").agg(
            F.min("component_id").alias("nbr_label")
        )
        # Carry the previous label through the checkpoint so the
        # convergence check is a filter-count over already-materialized
        # rows — NOT a fresh old-vs-new shuffle join (which cost a
        # whole extra job per iteration; the count now reuses the
        # checkpoint the propagation step paid for anyway).
        new_labels = _checkpoint_tracked(
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .select(
                "node",
                F.col("component_id").alias("_prev"),
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nbr_label"), F.col("component_id")),
                ).alias("component_id"),
            )
        )
        changed = new_labels.filter(
            F.col("component_id") != F.col("_prev")
        ).count()
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    else:
        # Exhausting max_iter with labels still moving means some
        # components are SPLIT (nodes past hop max_iter keep stale
        # labels) — silently returning them would leave near-dups in a
        # "deduplicated" corpus. Fail loudly; pathological long-chain
        # graphs need a larger max_iter (cost is O(diameter) rounds).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing) — raise "
            "max_iter for long-chain duplicate graphs"
        )
    return labels


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprints: (id, simhash int). Bit j of the fingerprint
    is the sign of sum over tokens of (bit j of md5(token) ? +1 : -1).
    Uses the first `bits` bits (hex chars left-to-right, high nibble
    first); identical integer math is expressible in the DuckDB oracle.

    ``bits`` caps at 60: the fingerprint fold multiplies by
    pow(2.0, bits-1-j) cast to bigint — exact for any power of two up
    to 2^59 (powers of two are exact doubles and fit signed 64-bit);
    bits=64 would need 2^63, which overflows the cast (an ANSI-mode
    runtime error). The cap also keeps fingerprints non-negative,
    which the DuckDB oracle's division-based band twin relies on
    (the Spark side's shiftrightunsigned would handle a sign bit).
    """
    assert bits % 4 == 0 and bits <= 60
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    ).withColumn("th", F.md5(F.col("tok")))
    expanded = toks.select(
        id_col,
        "th",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
    )
    # hex digit at char position j//4 (1-based substr), bit (3 - j%4).
    digit = F.conv(
        F.substring(F.col("th"), (F.floor(F.col("j") / 4) + 1).cast("int"), 1),
        16,
        10,
    ).cast("int")
    divisor = (
        F.when(F.col("j") % 4 == 0, 8)
        .when(F.col("j") % 4 == 1, 4)
        .when(F.col("j") % 4 == 2, 2)
        .otherwise(1)
    )
    bit = (F.floor(digit / divisor).cast("int") % 2).alias("bit")
    contrib = expanded.select(
        id_col,
        "j",
        F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).alias("c"),
    )
    bitvals = contrib.groupBy(id_col, "j").agg(
        F.when(F.sum("c") > 0, F.lit(1)).otherwise(F.lit(0)).alias("b")
    )
    return bitvals.groupBy(id_col).agg(
        F.sum(
            F.col("b")
            * F.pow(F.lit(2.0), (F.lit(bits - 1) - F.col("j")).cast("double")).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole banding over the fingerprint
    (4-bit bands — any pair within Hamming distance 3 shares at least
    one of the 4 bands exactly, so candidates come from equality joins,
    never a cross product), then exact popcount verification
    bit_count(xor) <= max_hamming. All integer math (div/mod/xor/
    popcount) — engine-portable, oracle-checkable.

    Same scale shape as MinHash-LSH: fingerprints are a per-doc
    aggregate, the band join keys are near-uniform fingerprint slices,
    and verification is arithmetic on the candidate pairs only. SimHash
    state per doc is one BIGINT — 64× smaller than a MinHash signature
    — which is why corpus pipelines keep both: SimHash for cheap
    near-exact dedup, MinHash for tunable Jaccard thresholds."""
    assert bits % 4 == 0
    n_bands = bits // 4
    if max_hamming >= n_bands:
        # Pigeonhole recall guarantee: B 4-bit bands catch every pair
        # within Hamming distance B-1 (the differing bits cannot touch
        # all bands). With max_hamming >= B the banding would SILENTLY
        # miss qualifying pairs (e.g. bits=8 → 2 bands misses
        # hamming=2 pairs that differ once per band) — the loud guard
        # mirrors lsh_bands' contract for MinHash.
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for "
            f"the pigeonhole guarantee; bits={bits} gives only {n_bands}"
            f" — raise bits to at least {4 * (max_hamming + 1)}"
        )
    sh = simhash(df, text_col, id_col, bits)
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # integer shift, not double division: / loses
                        # low-order bits past 2^53 fingerprints
                        F.shiftrightunsigned(
                            F.col("simhash"), 4 * b
                        ).bitwiseAND(F.lit(15)).alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "simhash", F.col("bv.band"), F.col("bv.band_val"))
    a = bands.select(
        "band", "band_val",
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
    )
    b = bands.select(
        "band", "band_val",
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
