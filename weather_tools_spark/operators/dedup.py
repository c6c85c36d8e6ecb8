"""Document deduplication operators for large-scale training-data
pipelines: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All four are pure JVM-side column expressions / relational compositions —
no Python UDFs — so they stay inside whole-stage codegen and scale as
ordinary shuffles:

- *exact*: md5 of (optionally normalized) text → groupBy hash. One
  map-side-combinable aggregation.
- *n-gram Jaccard* (exact pairwise): explode distinct word shingles,
  equi-join on shingle, count intersections, |A∪B| = |A|+|B|−|∩|.
  At 100 TB the shingle join must drop ultra-frequent shingles first
  (they generate quadratic candidate blowup); ``max_shingle_df`` does
  that — identical to the "common shingle" guard in MinHash literature.
- *MinHash+LSH* (approximate): K xxhash64 min-signatures per doc,
  banded into B bands of R rows; docs sharing any band bucket become
  candidate pairs; pair similarity estimated from signature agreement.
  Shuffle volume is O(docs × B), never O(docs²).
- *SimHash*: 64-bit sign-aggregated token-hash fingerprint; candidate
  pairs via 4×16-bit band pigeonholing (any pair within Hamming
  distance ≤3 shares at least one of 4 bands), verified with
  bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Persisted intermediates (shingle/signature frames reused by several
# consumers inside one query plan). persist() here is lazy; the frames
# are registered so long-lived sessions can release them once the
# returned plan has been materialized — otherwise repeated dedup query
# builds accumulate cached partitions. bench.py and the test fixtures
# call release_persisted() after each query.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_persisted() -> None:
    """Unpersist every intermediate cached by dedup operators. Safe to
    call any time after the consuming query has been materialized."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass

# ---------------------------------------------------------------------------
# Tokenization / shingling expressions (shared)
# ---------------------------------------------------------------------------


def tokens_expr(text_col: str) -> F.Column:
    """Whitespace tokenization as a column expression."""
    return F.split(F.col(text_col), r"\s+")


def shingles_sql(tokens_sql: str, n: int = 3) -> str:
    """SQL expression producing the distinct n-gram word shingles of a
    token array (empty array when fewer than n tokens).

    Built from ``slice`` + chained ``zip_with`` instead of per-index
    element access: ``transform(sequence(...), i -> t[i] ...)`` would
    re-evaluate the (inlined) tokenizer expression for every element
    access — measured ~10× slower on the documents table. With
    zip_with, each textual reference of the token expression evaluates
    once per ROW.
    """
    t = tokens_sql
    acc = f"slice({t}, 1, size({t}) - {n - 1})"
    for j in range(1, n):
        nxt = f"slice({t}, {j + 1}, size({t}) - {n - 1})"
        acc = f"zip_with({acc}, {nxt}, (x, y) -> concat(x, ' ', y))"
    return f"CASE WHEN size({t}) >= {n} THEN array_distinct({acc}) ELSE array() END"


def _widen(df: DataFrame) -> DataFrame:
    """Ensure the CPU-heavy tokenize/shingle stage has enough partitions:
    a corpus read from one parquet file arrives as a single partition and
    would serialize the whole stage on one core. Only repartitions when
    the input is narrower than the cluster — an already-parallel corpus
    (the 100 TB case, thousands of files) passes through untouched.

    r12 fix: for a FEW-FILE parquet input the repartition is now
    UNCONDITIONAL — split-based partition counts overstate real
    parallelism there, because a parquet task only materializes row
    groups whose midpoint falls in its byte range. The r12 sfx10 probe
    caught exactly this: a 74 MB single-row-group documents file
    scanned as 18 partitions (so the old getNumPartitions veto skipped
    the repartition) but 17 of those tasks were EMPTY — all 500k docs
    decoded and exploded in ONE task, and the whole dedup family's
    measured scale exponent jumped to 1.58. Partition count is not
    data distribution; file count bounds nothing when row groups are
    huge. The probe veto is kept only for non-file-backed plans
    (in-memory/derived frames report zero input files), where
    getNumPartitions IS the true width."""
    target = df.sparkSession.sparkContext.defaultParallelism
    narrow = max(2, target // 2)
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= narrow:
        return df
    if n_files == 0:
        # non-file-backed plan: the partition probe is trustworthy
        try:
            if df.rdd.getNumPartitions() >= narrow:
                return df
        except Exception:
            pass
    return df.repartition(target)


def _arrow_shingle_batch(text_arr, n: int, distinct: bool):
    """pyarrow-native n-gram kernel over one Arrow string array (guide
    §4.2: hand whole batches to vectorized native code) — returns a
    ``list<string>`` array of the per-row n-gram shingles, first-seen
    order, optionally deduped.

    Vectorization layout: RE2 whitespace split (same \\s semantics as
    the Java-regex "sql" kernel and the DuckDB oracle, which are both
    ASCII-\\s engines — the old per-row Python kernel's unicode-aware
    ``re.split`` agreed with them on every corpus the parity test pins),
    then every n-gram is one ``take`` per offset position over the flat
    token array + one ``binary_join_element_wise`` — each output byte is
    written exactly once. The order-preserving per-row dedup is
    dictionary-encode (C++ hash) + a pandas ``duplicated`` mask over the
    (row, code) key — no per-row Python anywhere. Measured 2.0× the old
    per-row-loop kernel per 10k-row batch on the real corpus (242 ms vs
    484 ms incl. the Arrow conversion the old kernel paid on yield).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    toks = pc.split_pattern_regex(text_arr, pattern=r"\s+")
    if toks.null_count:
        raise TypeError("with_shingles: null text")  # parity with re.split(None)
    off = toks.offsets.to_numpy().astype(np.int64)
    k = np.diff(off)
    n_rows = len(k)
    m = np.maximum(k - (n - 1), 0)
    gram_off = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(m, out=gram_off[1:])
    total = int(gram_off[-1])
    if total == 0:
        return pa.ListArray.from_arrays(
            pa.array(gram_off, type=pa.int32()), pa.array([], type=pa.string())
        )
    flat = toks.values
    g_in_row = np.arange(total, dtype=np.int64) - np.repeat(gram_off[:-1], m)
    base = np.repeat(off[:-1], m) + g_in_row
    parts = [flat.take(pa.array(base + j)) for j in range(n)]
    grams = parts[0] if n == 1 else pc.binary_join_element_wise(*parts, " ")
    if distinct:
        import pandas as pd

        gram_row = np.repeat(np.arange(n_rows, dtype=np.int64), m)
        codes = pc.dictionary_encode(grams).indices.to_numpy().astype(np.int64)
        keep = ~pd.Series((gram_row << 32) | codes).duplicated().to_numpy()
        counts = np.bincount(gram_row[keep], minlength=n_rows)
        gram_off = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(counts, out=gram_off[1:])
        grams = grams.filter(pa.array(keep))
    return pa.ListArray.from_arrays(pa.array(gram_off, type=pa.int32()), grams)


def with_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    kernel: str = "arrow",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, shingles array) — the base for every similarity-style
    dedup.

    Two kernels with IDENTICAL output (equality pinned in
    tests/test_dedup_similarity.py):

    - ``"arrow"`` (default): pyarrow-native string kernel via
      ``mapInArrow`` — tokenize + n-gram + order-preserving dedup as
      vectorized Arrow/numpy operations, zero per-row Python, and the
      output ListArray crosses back to the JVM without a pandas
      object-list conversion (see :func:`_arrow_shingle_batch`; r13,
      guide §4.2 — the r12 kernel looped rows in Python inside
      mapInPandas and paid the list-of-str → Arrow conversion per
      yield). Spark's array higher-order functions are *interpreted*
      (no whole-stage codegen for the lambda bodies), so this string
      kernel is the same class of exception as the BLAS dgemm stages.
    - ``"sql"``: the pure-JVM zip_with expression chain — zero Python,
      useful where executors have no Python workers to spare.

    Tokenization parity: Spark's ``split`` uses limit -1 (leading AND
    trailing empty tokens kept), exactly like RE2's split here — pinned
    by the whitespace edge cases in test_shingle_kernels_identical.
    ``extra`` columns pass through unchanged (both kernels)."""
    if kernel == "sql":
        return _widen(df).select(
            F.col(id_col).alias("doc_id"),
            *extra,
            F.expr(shingles_sql(f"split({text_col}, '\\\\s+')", n)).alias("shingles"),
        )

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            sh = _arrow_shingle_batch(b.column(text_col), n, distinct=True)
            cols = [b.column(id_col)] + [b.column(c) for c in extra] + [sh]
            yield pa.RecordBatch.from_arrays(
                cols, names=["doc_id", *extra, "shingles"]
            )

    dtypes = dict(df.dtypes)
    schema = (
        f"doc_id {dtypes[id_col]}, "
        + "".join(f"`{c}` {dtypes[c]}, " for c in extra)
        + "shingles array<string>"
    )
    return _widen(df).select(F.col(id_col), *extra, F.col(text_col)).mapInArrow(gen, schema)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Cluster near-duplicate pairs into components: (doc_id,
    cluster_id = min doc id reachable) — the canonicalization step every
    large dedup pipeline runs after pair generation (keep one doc per
    cluster, not per pair: A~B and B~C must collapse to ONE survivor).

    Distributed min-label propagation: each iteration joins the edge
    list (made symmetric) against current labels and takes the
    neighborhood minimum; converges in O(component diameter) iterations
    — small for near-dup clusters. The edge list and each label frame
    are ``localCheckpoint``-ed so the pair-generation lineage is not
    re-executed per iteration and plans stay flat. Change detection
    rides the label frame itself (old vs new in one pass) — one join job
    plus a cheap count on checkpointed data per iteration. At 100 TB
    this is the standard alternating-iteration CC pattern; shuffle per
    iteration is O(edges).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    # right-size the iteration: a thresholded near-dup pair graph is
    # usually tiny relative to the corpus — running each fixpoint join
    # over the session's full shuffle width would be all task-launch
    # overhead. The edge count is free here (edges is materialized).
    n_edges = edges.count()
    width = max(1, min(edges.sparkSession.sparkContext.defaultParallelism, n_edges // 10_000 + 1))
    edges = edges.repartition(width, "dst").localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nb = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nb_label"))
        )
        stepped = labels.join(nb, labels["doc_id"] == nb["src"], "left").select(
            "doc_id",
            F.col("label").alias("old_label"),
            F.least("label", F.coalesce("nb_label", "label")).alias("label"),
        )
        # pointer jumping: label(x) <- label(label(x)). One-hop
        # propagation alone needs O(diameter) iterations — a long chain
        # would silently return unconverged labels at max_iters; with
        # the jump the loop converges in O(log diameter).
        l2 = stepped.select(
            F.col("doc_id").alias("__ref"), F.col("label").alias("__ref_label")
        )
        new = (
            stepped.join(l2, stepped["label"] == l2["__ref"], "left")
            .select(
                "doc_id",
                "old_label",
                F.least("label", F.coalesce("__ref_label", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("old_label") != F.col("label")).count()
        labels = new.select("doc_id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def normalize_text(text_col: str) -> F.Column:
    """Canonicalization for near-exact dedup: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str, normalized: bool = False) -> DataFrame:
    """Group documents by content hash; keep the minimum id as the
    canonical representative. Returns (content_hash, keep_id, n_members).
    """
    text = normalize_text(text_col) if normalized else F.col(text_col)
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(text).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_members"))
    )


# ---------------------------------------------------------------------------
# Document-frequency cap (shared by the capped pair operators)
# ---------------------------------------------------------------------------

# Above this many documents the windowed df-cap plan is skew-unsafe: a
# boilerplate shingle present in most docs sends its ENTIRE occurrence
# list through one by-s window group in a single task (WindowExec
# buffers the group before the filter can drop it). Under the bound one
# group holds <= n_docs rows — trivially one-task-safe. Overridable for
# cluster profiles; tests monkeypatch it to force the scale path.
DF_CAP_WINDOW_MAX_DOCS = int(
    __import__("os").environ.get("SPARK_GRAFT_DEDUP_WINDOW_MAX_DOCS", "100000")
)


def _docs_at_most(docs: DataFrame, bound: int) -> bool:
    """Is ``docs`` at most ``bound`` rows? Decided WITHOUT a Spark job
    when the frame is file-backed: parquet footers carry exact row
    counts, read driver-side in ~ms (r13 — the limit-count probe was a
    full job per query build, ~0.1-0.15 s at sf0.1). Filters above the
    scan make the footer total an upper bound only; that errs toward
    ``False``, and both dispatch targets are value-identical, so the
    overestimate is safe. Footers are read only for ``file:`` and
    scheme-less paths: a remote URI's path may name an unrelated local
    file. Other frames fall back to the pushed-down
    ``limit(bound+1).count()`` probe."""
    from urllib.parse import unquote, urlparse

    try:
        files = docs.inputFiles()
    except Exception:
        files = []
    if files and {urlparse(f).scheme for f in files} <= {"", "file"}:
        try:
            import pyarrow.parquet as pq

            total = 0
            for f in files:
                p = unquote(urlparse(f).path) if f.startswith("file:") else f
                total += pq.read_metadata(p).num_rows
                if total > bound:
                    return False
            return True
        except Exception:
            pass
    return docs.limit(bound + 1).count() <= bound


def _drop_frequent_shingles(docs: DataFrame, exploded: DataFrame, cap: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``cap`` — the
    standard guard against quadratic pair blowup on boilerplate — with a
    CARDINALITY PROBE choosing between two value-identical plans
    (VERDICT/ADVICE r12: the r12 window-only rewrite was a one-task
    straggler hazard at scale):

    - **bounded** (n_docs <= DF_CAP_WINDOW_MAX_DOCS, the
      cumulative_sums probe pattern): ``count(*) over (partition by
      s)`` on the by-shingle exchange the pipeline needs next — single
      stream, shingle kernel runs ONCE, no extra pass; the hottest
      group is <= n_docs rows (shingles are distinct per doc).
    - **at scale**: map-combinable (s, df) aggregate + broadcast LEFT
      ANTI join, the r11 design — over-cap occurrences are dropped
      MAP-SIDE before any by-s shuffle, so a shingle appearing in
      billions of docs never concentrates in one task. Costs a second
      evaluation of the shingle lineage (the unpersisted DAG fork),
      which the r10 persist audit measured as cheaper than
      materializing the shingle-scale frame.

    The probe (``_docs_at_most``) reads the parquet footer row counts
    driver-side when the frame is file-backed — zero Spark jobs, the
    count a metastore would serve — and falls back to a pushed-down
    ``limit(bound+1).count()`` for non-file-backed frames. Footer counts
    ignore any filter above the scan, i.e. they can only OVERestimate:
    a too-big answer flips to the scale plan, which is value-identical,
    so the shortcut is always safe.
    """
    if _docs_at_most(docs, DF_CAP_WINDOW_MAX_DOCS):
        return (
            exploded.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
            .filter(F.col("df") <= cap)
            .drop("df")
        )
    frequent = (
        exploded.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
    )
    return exploded.join(F.broadcast(frequent), "s", "left_anti")


# ---------------------------------------------------------------------------
# Exact pairwise n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs (doc_a < doc_b) with n-gram Jaccard ≥ threshold.

    ``max_shingle_df`` (document frequency cap) prunes shingles occurring
    in more than that many docs before the pair join — the standard guard
    against quadratic blowup on boilerplate shingles at scale.
    """
    sh = with_shingles(df, id_col, text_col, n)
    # NOT persisted (r10 persist audit): re-evaluating the shingle
    # construction per consumer is cheaper than materializing the
    # shingle-scale cache — at sfx1.0 the unpersisted plan is neutral
    # for the pair query itself and 4.8 s faster for the
    # cluster-canonical consumer (16.1 → 11.3 s); an earlier-round
    # small-SF measurement that favored persist did not hold at 100×.
    exploded = sh.select(F.col("doc_id"), F.explode("shingles").alias("s"))
    if max_shingle_df is not None:
        # r12 kept the kernel-x1 window plan; r13 adds the cardinality
        # probe so the window only runs where it is one-task-safe — see
        # _drop_frequent_shingles for the dispatch rationale.
        exploded = _drop_frequent_shingles(df, exploded, max_shingle_df)
    if max_shingle_df is None:
        sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_df is not None:
        # Capped path: every surviving shingle touches ≤ cap docs, so
        # grouping by shingle and expanding the C(m,2) in-bucket combos
        # is memory-bounded (list ≤ cap) and replaces the exploded
        # self-join with ONE aggregation — one fewer wide shuffle, and
        # the pair fan-out happens as a narrow transform. doc lists are
        # sorted so emitted pairs are canonical (a < b) with no dedup.
        # Per-doc set sizes are attached BEFORE expansion as a WINDOW
        # count over doc_id: one shuffle annotates every (doc, shingle)
        # row with its doc's capped set size — no size aggregate, no
        # join-back, and the capped frame has exactly one consumer (so
        # only the pre-cap exploded frame needs a persist). The
        # candidate-pair frame — the largest in the plan, Σ C(m,2)
        # rows — then carries its Jaccard denominators through the
        # final aggregation and never gets joined again.
        from pyspark.sql import Window as _W

        with_sz = exploded.withColumn(
            "n_sh", F.count(F.lit(1)).over(_W.partitionBy("doc_id"))
        )
        byshingle = (
            with_sz.groupBy("s")
            .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("d"))
            .filter(F.size("d") >= 2)
        )
        combos = byshingle.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(d)-1), "
                    "i -> transform(slice(d, i+1, size(d)-i), "
                    "y -> struct(element_at(d, i).doc_id AS doc_a, y.doc_id AS doc_b, "
                    "element_at(d, i).n_sh AS n_a, y.n_sh AS n_b))))"
                )
            ).alias("p")
        )
        inter = (
            combos.groupBy("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        return inter.select(
            "doc_a",
            "doc_b",
            (F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
    # Uncapped exact path: an unbounded per-shingle doc list would
    # be an executor-memory hazard, so intersections stream through
    # the shingle equi-join instead.
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Rolling-hash winnowing fingerprints
# ---------------------------------------------------------------------------


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, window: int = 4
) -> DataFrame:
    """Winnowed rolling-hash document fingerprints (the standard
    plagiarism/near-dup scheme): hash every n-gram shingle, slide a
    ``window`` over consecutive shingle hashes, keep each window's
    minimum — every document pair sharing a sufficiently long run of
    identical text is guaranteed to share a fingerprint.

    Pipeline: posexplode shingles (ordered) → xxhash64 → min over a
    rows-window per doc → distinct. One shuffle on doc_id; fingerprint
    count per doc ≈ shingles/window.
    Returns (doc_id, fingerprint).
    """
    from pyspark.sql import Window as W

    sh = with_shingles_ordered(df, id_col, text_col, n).select(
        "doc_id", F.posexplode("shingles").alias("pos", "s")
    ).select("doc_id", "pos", F.xxhash64("s").alias("h"))
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    return (
        sh.select("doc_id", F.min("h").over(w).alias("fingerprint"))
        .distinct()
    )


def winnowing_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, window: int = 4, min_shared: int = 2
) -> DataFrame:
    """Near-dup candidates: pairs sharing ≥ ``min_shared`` winnowed
    fingerprints — equi-join on fingerprint (O(docs×fp) shuffle), then a
    pair count. Returns (doc_a, doc_b, n_shared)."""
    fp = winnowing_fingerprints(df, id_col, text_col, n, window)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def with_shingles_ordered(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, kernel: str = "arrow"
) -> DataFrame:
    """(doc_id, shingles array) WITHOUT dedup — the positional shingle
    sequence winnowing needs. Same kernel pair as ``with_shingles``."""
    if kernel == "sql":
        return _widen(df).select(
            F.col(id_col).alias("doc_id"),
            F.expr(shingles_ordered_sql(f"split({text_col}, '\\\\s+')", n)).alias("shingles"),
        )

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            sh = _arrow_shingle_batch(b.column(text_col), n, distinct=False)
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col), sh], names=["doc_id", "shingles"]
            )

    dtypes = dict(df.dtypes)
    return _widen(df).select(F.col(id_col), F.col(text_col)).mapInArrow(
        gen, f"doc_id {dtypes[id_col]}, shingles array<string>"
    )


def shingles_ordered_sql(tokens_sql: str, n: int = 3) -> str:
    """Like shingles_sql but WITHOUT the distinct — winnowing needs the
    positional sequence."""
    t = tokens_sql
    acc = f"slice({t}, 1, size({t}) - {n - 1})"
    for j in range(1, n):
        nxt = f"slice({t}, {j + 1}, size({t}) - {n - 1})"
        acc = f"zip_with({acc}, {nxt}, (x, y) -> concat(x, ' ', y))"
    return f"CASE WHEN size({t}) >= {n} THEN {acc} ELSE array() END"


# ---------------------------------------------------------------------------
# MinHash + LSH (approximate)
# ---------------------------------------------------------------------------


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, k: int = 16, n: int = 3) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}) — per-doc MinHash signature.

    Layout: explode shingles once, hash each (shingle, seed_i) pair,
    then ``groupBy(doc).agg(min(h_i)...)``. The k mins ride one
    map-side-combinable aggregation — the shingle expression is
    evaluated exactly once per (doc, shingle), never k times (the
    inline ``array_min(transform(...))`` alternative gets duplicated k×
    by projection collapse and measured ~15× slower at sf0.1).
    Docs with no shingles produce no row and drop out of LSH.
    """
    sh = with_shingles(df, id_col, text_col, n)
    exploded = sh.select(F.col("doc_id"), F.explode("shingles").alias("s"))
    hashed = exploded.select(
        "doc_id", *[F.xxhash64(F.col("s"), F.lit(i)).alias(f"h_{i}") for i in range(k)]
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h_{i}").alias(f"sig_{i}") for i in range(k)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs via banded LSH over MinHash signatures, scored by
    signature-agreement fraction (unbiased Jaccard estimate), filtered at
    ``threshold``. Returns (doc_a, doc_b, est_jaccard).

    Shuffle analysis: one narrow stage computes signatures, then an
    explode to B=``bands`` rows/doc, a self-join on (band, bucket) —
    the only data-dependent shuffle, O(docs×B) rows — and a distinct
    over the scored pairs. No O(n²) stage exists. The signature array
    (k×8 bytes/row) rides THROUGH the bucket join so agreement is
    scored in place: one join + one distinct, versus the
    narrow-candidates alternative (join + distinct + two join-backs to
    re-attach signatures) which measures ~25% slower at sf0.1 and
    shuffles the pair set three extra times at scale.
    """
    rows = k // bands
    # NOT persisted (r10 persist audit): recomputing the signature
    # lineage for each side of the bucket self-join beats caching the
    # doc×k signature frame — sfx1.0: banded recall audit 43.6 → 16.7 s,
    # the LSH pair query 4.0 → 3.4 s.
    sig = minhash_signatures(df, id_col, text_col, k, n)
    buckets = sig.select(
        "doc_id",
        F.array(*[F.col(f"sig_{i}") for i in range(k)]).alias("sigs"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"sig_{b * rows + r}") for r in range(rows)], F.lit(b)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sigs", F.col("bb.band"), F.col("bb.bucket"))
    a, b = buckets.alias("a"), buckets.alias("b")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a.sigs"), F.col("b.sigs"), lambda x, y: x == y), lambda m: m
        )
    )
    # distinct collapses the same pair surfacing from multiple bands
    # (est_jaccard is a pure function of the pair, so the scored row is
    # identical across bands and the distinct key is effectively the
    # pair); the threshold filter runs before the distinct shuffle.
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (agree.cast("double") / F.lit(float(k))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash per document.

    For each bit b: sum over tokens of ±1 according to bit b of the
    token's xxhash64; the fingerprint sets bit b iff the sum is
    positive. Layout: explode tokens → hash once per token → ONE
    map-side-combinable aggregation carrying 64 conditional sums (an
    inline aggregate()-over-array expression would traverse the token
    array 64 times per row after projection collapse).
    """
    tok = _widen(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("t")
    ).select("doc_id", F.xxhash64("t").alias("h"))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b_{b}")
            for b in range(64)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(64):
        fp = fp.bitwiseOR(
            F.when(F.col(f"b_{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bit_sums.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 16-bit
    bands (pigeonhole guarantee for Hamming ≤ 3), verified exactly with
    bit_count(xor). Returns (doc_a, doc_b, hamming)."""
    fp = simhash_fingerprints(df, id_col, text_col)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band"), F.col("bb.key"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (PPJoin-style)
# ---------------------------------------------------------------------------


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs (doc_a < doc_b) with n-gram Jaccard ≥ threshold — EXACT
    and uncapped, via prefix filtering (Chaudhuri/Ganti/Kaushik 2006;
    Xiao et al. PPJoin, WWW'08): order every document's shingles by
    ascending global document frequency (rarest first, ties by value)
    and emit only the first ``p = |x| − ⌈τ·|x|⌉ + 1`` as join keys.

    Completeness: J(a,b) ≥ τ forces an overlap ≥ ⌈τ·max(|a|,|b|)⌉
    (i ≥ τ(|a|+|b|−i) ⇒ i ≥ τ·|b|), and two sets whose length-p
    prefixes of a COMMON total order are disjoint can overlap in at
    most |x| − p = ⌈τ·|x|⌉ − 1 elements — so every qualifying pair
    shares a prefix token and survives filtering; exact verification
    then removes false candidates. Unlike the ``max_shingle_df`` cap in
    :func:`ngram_jaccard_pairs` this needs NO frequency cutoff to stay
    subquadratic: boilerplate (high-df) shingles sort LAST and almost
    never enter a prefix, so the candidate join touches only rare
    tokens. This is the 100 TB exact-pairs plan; the capped variant
    remains the cap-semantics twin.

    Plan shape: one (doc, shingle) explode → df aggregation → equi-join
    back (both sides partitioned by shingle) → per-doc sort/slice (all
    array ops, JVM-side) → candidate equi-join on prefix tokens →
    verification join on the bounded per-doc arrays. No global rank,
    no single-partition window — ordering is by the (df, shingle) pair
    itself."""
    sh = with_shingles(df, id_col, text_col, n)
    # NOT persisted (r10 persist audit): exchange reuse shares the
    # by-shingle shuffle across consumers; caching the shingle-scale
    # and per-doc-array frames measured slower at sfx1.0 (9.9 → 9.6 s).
    exploded = sh.select(F.col("doc_id"), F.explode("shingles").alias("s"))
    dfreq = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    docs = (
        exploded.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("sz"),
            F.expr(
                f"slice(toks, 1, size(toks) - cast(ceil({threshold} * size(toks)) as int) + 1)"
            ).alias("prefix"),
        )
    )
    pref = docs.select("doc_id", F.col("sz"), F.explode("prefix").alias("p"))
    # PPJoin length filter rides the candidate join: J(a,b) >= t forces
    # t*|a| <= |b| <= |a|/t, so mismatched sizes never become candidates.
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") * F.lit(threshold) <= F.col("a.sz"))
            & (F.col("a.sz") * F.lit(threshold) <= F.col("b.sz")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"), F.col("sz").alias("n_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"), F.col("sz").alias("n_b"))
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).alias("n_inter"),
            "n_a",
            "n_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = 20,
) -> DataFrame:
    """All ORDERED pairs (doc_a, doc_b), a ≠ b, with n-gram containment
    C(a→b) = |A∩B| / |A| ≥ threshold — the asymmetric twin of Jaccard
    for catching documents that are near-SUBSETS of another (quoted
    articles, truncated crawls, boilerplate-wrapped copies), which
    symmetric Jaccard misses whenever |B| ≫ |A|.

    Same capped-shingle topology as :func:`ngram_jaccard_pairs`
    (reference behavior target: the near-dup semantics of
    weather-tools' dedup has no containment analog — this is an
    LLM-pipeline extension): explode distinct shingles, drop shingles
    with document frequency > ``max_shingle_df`` (broadcast LEFT ANTI),
    group by shingle, expand in-bucket combinations (≤ C(cap, 2) per
    shingle), count intersections once per UNORDERED pair, then emit
    both directions and filter each by its own denominator. One wide
    shuffle (the by-shingle aggregation); the pair frame is never
    re-joined.
    """
    sh = with_shingles(df, id_col, text_col, n)
    # NOT persisted (r10 persist audit): sfx1.0 containment 11.2 → 9.7 s
    exploded = sh.select(F.col("doc_id"), F.explode("shingles").alias("s"))
    if max_shingle_df is not None:
        # probe-dispatched df cap: windowed single-stream plan under the
        # doc bound, map-side anti-join drop past it (see
        # _drop_frequent_shingles)
        exploded = _drop_frequent_shingles(df, exploded, max_shingle_df)
    with_sz = exploded.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    byshingle = (
        with_sz.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("d"))
        .filter(F.size("d") >= 2)
    )
    combos = byshingle.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(d)-1), "
                "i -> transform(slice(d, i+1, size(d)-i), "
                "y -> struct(element_at(d, i).doc_id AS doc_a, y.doc_id AS doc_b, "
                "element_at(d, i).n_sh AS n_a, y.n_sh AS n_b))))"
            )
        ).alias("p")
    )
    inter = combos.groupBy("p.doc_a", "p.doc_b", "p.n_a", "p.n_b").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    # both directions from the single unordered-pair frame: a narrow
    # explode, no second join
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"),
                    F.col("doc_b").alias("dst"),
                    F.col("n_a").alias("n_src"),
                    F.col("n_inter"),
                ),
                F.struct(
                    F.col("doc_b").alias("src"),
                    F.col("doc_a").alias("dst"),
                    F.col("n_b").alias("n_src"),
                    F.col("n_inter"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.n_src", "e.n_inter")
    return directed.select(
        F.col("src").alias("doc_a"),
        F.col("dst").alias("doc_b"),
        (F.col("n_inter").cast("double") / F.col("n_src")).alias("containment"),
    ).filter(F.col("containment") >= threshold)
