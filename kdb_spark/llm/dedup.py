"""Deduplication operators (SURVEY.md §2.K).

- exact:   content-hash groupBy (sha2) — one shuffle on the hash.
- n-gram Jaccard: exact near-dup via shared-shingle candidate join — any pair
  with jaccard > 0 shares a shingle, so candidate generation by shingle
  equi-join is *exact* (no recall loss) while doing |pairs-sharing-a-shingle|
  work instead of |docs|².
- MinHash-LSH: banded signatures — the 100 TB path where even
  shared-shingle joins blow up; candidates then verified with exact jaccard.
- SimHash: 64-bit sign fingerprint + banded hamming blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One persisted intermediate per (op, role): near-dup ops read their
# signature/shingle tables from BOTH sides of a self-join, and Spark does not
# reuse the exchange across the aliased sides — without a persist the whole
# tokenize→hash pipeline runs once per side. Keyed replacement (unpersist the
# previous entry on re-invocation) bounds cache growth to one table per role
# no matter how often the query re-runs.
_REUSE_CACHE: dict[str, DataFrame] = {}


def _reused(key: str, df: DataFrame) -> DataFrame:
    """Get-or-create a persisted shared intermediate.

    If the cached frame under ``key`` is semantically the same plan
    (``semanticHash`` — so a different sf_dir or parameterization misses),
    return it still persisted: repeated calls in one session (the bench's
    cold+warm pair, the batch op and its streaming twin) reuse the
    materialization instead of re-persisting identical data. A differing
    plan evicts and replaces. MEMORY_AND_DISK: spills, survives executor
    pressure."""
    old = _REUSE_CACHE.get(key)
    if old is not None:
        try:
            # same live session (identity — a stop+getOrCreate produces a
            # new wrapper) AND exactly the same plan (sameSemantics, not
            # the 32-bit semanticHash, so collisions can't serve wrong data)
            if old.sparkSession is df.sparkSession and old.sameSemantics(df):
                return old
        except Exception:  # a stopped session invalidates the handle
            pass
        try:
            old.unpersist()
        except Exception:
            pass
    df = df.persist()
    _REUSE_CACHE[key] = df
    return df


def tokens(col: F.Column | str = "text") -> F.Column:
    """Lowercase word tokens — the shared tokenizer for all text ops."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit("[a-z0-9]+"), 0)


def shingles(toks: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-grams (default 3) joined by single spaces.

    ``toks`` MUST be a materialized token-array *column* (not an inline
    `tokens()` expression): every `element_at` re-evaluates its array
    argument, so an embedded regexp tokenizer would rerun per shingle
    position — a quadratic-in-doc-length trap (measured 15× on sf0.1).

    Guarded for short docs: Spark's sequence(1, 0) would count DOWN, so
    docs with < n tokens get an explicit empty array.
    """
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        )
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup on sha2(text): keep the lowest doc_id per content hash.

    The hash (32B) stands in for arbitrarily large documents, so the shuffle
    carries fixed-width keys at any scale.
    """
    return (
        documents.select(F.sha2("text", 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


def _doc_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh: array<string>) with each stage materialized ONCE per row.

    Stacked selects are NOT enough to pin evaluation: CollapseProject merges
    them and inlines the shingle expression into every downstream reference
    (minhash's 32 signature slots each re-tokenized + re-shingled the doc —
    measured 10× end-to-end). ``explode(array(e))`` is a Generate node,
    which the optimizer does not collapse through: its output is an
    attribute, so any number of downstream references cost zero recompute.
    """
    tok = documents.select(
        "doc_id", F.explode(F.array(tokens("text"))).alias("toks")
    )
    return tok.select(
        "doc_id", F.explode(F.array(shingles(F.col("toks"), n))).alias("sh")
    )


def dedup_ngram_jaccard(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    df_cap: int = 8192,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (jaccard >= threshold, a < b).

    Candidates via shared-shingle equi-join (exact: jaccard>0 ⇒ ≥1 shared
    shingle). |intersection| falls out of the join group count; |union| from
    per-doc distinct counts. jaccard = int/int division — bit-identical
    across engines.

    ``df_cap`` bounds the pair blow-up of stop-shingles: a shingle present in
    d documents emits d(d-1)/2 candidate pairs, so one boilerplate phrase in
    10^6 docs would emit 5·10^11 pairs from a single group. Shingle groups
    with df > df_cap are dropped before pair generation — at most
    df_cap(df_cap-1)/2 pairs per shingle, making worst-case output linear in
    input shingles instead of quadratic in corpus size. A dropped shingle no
    longer contributes to |intersection| for pairs that share it, so jaccard
    is *under*-estimated for pairs glued by corpus-wide boilerplate — the
    standard (and usually desirable) trade: such shingles carry no dedup
    signal. With the default cap far above any real shingle's df in the test
    corpora (max observed df: 25 at sf0.1), results are exact.
    """
    docs = _doc_shingles(documents, n)
    # ONE scan + ONE shuffle: explode to (shingle-hash, struct(doc_id, n_sh))
    # — the 8-byte xxhash64 key replaces the ~30-byte shingle string, and
    # each doc's shingle count rides along in the struct so |union| needs no
    # later join back to per-doc sizes. Group docs per shingle, then emit
    # each group's (a < b) pair combinations map-side with array lambdas.
    # The equivalent self-join shuffles the exploded table three times
    # (df>=2 prune + both join sides) and hits the same per-key skew; the
    # df_cap filter below is the skew guard for both shapes.
    # (doc_id, n_sh) packed into one LONG — doc_id in the high 32 bits so
    # sort_array orders by doc_id; n_sh (shingle count ≤ doc length) in the
    # low 32. Primitive-long aggregation buffers: the corpus has millions of
    # singleton shingle groups and per-element struct boxing in collect_list
    # measured ~4× slower end-to-end. 32-bit doc keys cover 4B docs; a
    # doc_id outside [0, 2^32) would silently collide in the pack (or wrap
    # under non-ANSI arithmetic), so the pack input is range-guarded per-row
    # and raises a labeled error BEFORE the multiply can overflow. Wider
    # corpora would shard the key space.
    doc_ok = F.when(
        F.col("doc_id").between(0, (1 << 32) - 1), F.col("doc_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("dedup_ngram_jaccard: doc_id outside 32-bit pack range: "),
                F.col("doc_id").cast("string"),
            )
        )
    )
    packed = (doc_ok.cast("long") * F.lit(1 << 32)) + F.size("sh")
    flat = docs.select(
        packed.alias("d"), F.explode("sh").alias("s")
    ).select(F.xxhash64("s").alias("s"), "d")
    grouped = (
        flat.groupBy("s")
        .agg(F.sort_array(F.collect_list("d")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= df_cap))
    )
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    # Group on the two packed longs and unpack AFTER the count: doc/size
    # fields are bijective with the pack, so the groups are identical, but
    # the exchange key is 16 B (a, b) instead of the 32 B of the four
    # pre-derived columns — the pair shuffle IS this op's only big
    # exchange, so key width is shuffle width.
    return (
        grouped.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .select(
            F.shiftrightunsigned("a", 32).alias("doc_a"),
            F.shiftrightunsigned("b", 32).alias("doc_b"),
            F.col("a").bitwiseAND(F.lit(0xFFFFFFFF)).alias("na"),
            F.col("b").bitwiseAND(F.lit(0xFFFFFFFF)).alias("nb"),
            "n_inter",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature(sh_col: F.Column, num_perm: int, seed: int = 42) -> F.Column:
    """Array of num_perm minhash values over a shingle array.

    The i-th "permutation" is xxhash64(shingle, seed+i) — an independent
    64-bit hash per slot; each signature slot is an array_min. All
    expression-level (JVM xxhash64 + array lambdas), whole-stage codegen,
    no UDF, no per-row Python.
    """
    return F.array(
        *[
            F.array_min(
                F.transform(sh_col, lambda s, i=i: F.xxhash64(s, F.lit(seed + i)))
            )
            for i in range(num_perm)
        ]
    )


def dedup_near_minhash(
    documents: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact jaccard.

    Banded LSH (bands × rows = num_perm): docs sharing any band bucket become
    candidates (equi-join on (band, bucket-hash) — never all-pairs,
    SURVEY.md:285-286), then exact jaccard filters false positives. With
    16 bands × 2 rows, P(candidate | j) = 1-(1-j²)^16: ≥ 0.99 at j = 0.5 and
    1-2e-12 at j = 0.9 — misses are possible in principle (LSH is
    probabilistic) but the verify step means any emitted pair is exact.
    """
    rows = num_perm // bands
    # Hash every shingle to an 8-byte long up front: signatures hash longs
    # instead of ~30-byte strings (cheaper × 32 permutations), and the
    # verify join below shuffles long arrays instead of string arrays
    # (~4× fewer bytes through the exchange — measured to be what drives
    # GC/spill variance at larger corpora). Set semantics are unchanged:
    # xxhash64 collisions across a doc pair's shingle sets are ~2^-64.
    # read 3× (signature build + both verify sides): persisted, ~corpus/4
    # in size (8 B per shingle). MEMORY_AND_DISK spills rather than OOMs;
    # the alternative is three full tokenize+shingle+hash passes.
    docs = _reused(
        "minhash_shingles",
        _doc_shingles(documents, n)
        .filter(F.size("sh") > 0)
        .select("doc_id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")),
    )
    # 32 longs/doc, read by both LSH join sides
    sig = _reused(
        "minhash_sig",
        docs.select("doc_id", minhash_signature(F.col("sh"), num_perm).alias("sig")),
    )
    band_cols = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[F.col("sig")[b * rows + r] for r in range(rows)]).alias("bh"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bb")
    buckets = sig.select("doc_id", band_cols).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-jaccard verification of candidates only
    sh_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_buckets(
    docs: DataFrame, num_perm: int = 32, bands: int = 16
) -> DataFrame:
    """(…, band, bh) LSH bucket rows from (…, sh: array<long>) — every input
    column except ``sh`` rides through (one output row per band per doc).

    MinHash signature (JVM expressions only — streaming-safe) exploded to
    one row per band; docs sharing any (band, bh) are LSH candidates.
    Shared by `dedup_cross_corpus` and the stream-static
    `stream_cross_dedup`.
    """
    rows = num_perm // bands
    sig = docs.withColumn("sig", minhash_signature(F.col("sh"), num_perm))
    keep = [c for c in docs.columns if c != "sh"]
    band_cols = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[F.col("sig")[b * rows + r] for r in range(rows)]
                    ).alias("bh"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bb")
    return sig.select(*keep, band_cols).select(
        *keep, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def incoming_gate(pct_incoming: int = 20) -> F.Column:
    """The deterministic md5-slot incoming/base split (shared with
    `curation.sample_hash`): True = the doc belongs to the incoming batch."""
    slot = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
    return slot.cast("long") % 100 < pct_incoming


def cross_verify(
    cand: DataFrame, docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact-jaccard verify of (doc_new, doc_base) candidates against hashed
    shingle arrays, rolled up per incoming doc with order-independent
    aggregates (no arg-max ties to diverge cross-engine)."""
    sh_n = docs.select(F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_n"))
    sh_b = docs.select(F.col("doc_id").alias("doc_base"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_n, "doc_new")
        .join(sh_b, "doc_base")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_n", "sh_b"))
            / F.size(F.array_union("sh_n", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy(F.col("doc_new").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_base").alias("min_base"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )


def dedup_cross_corpus(
    documents: DataFrame,
    threshold: float = 0.5,
    pct_incoming: int = 20,
    num_perm: int = 32,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """Incremental-ingest dedup: screen an INCOMING batch of documents
    against the EXISTING corpus — "is this new doc a near-dup of anything
    we already have" — without ever comparing base docs to each other.

    This is the shape every continuously-growing training corpus needs:
    the base corpus is orders of magnitude larger than each increment, and
    re-running all-pairs dedup per increment would be quadratic over time.
    Here LSH buckets are built per side and joined ACROSS sides only
    (incoming × base), so work per increment is
    O(increment + matching buckets), not O(corpus²). When the increment is
    small its bucket table broadcast-joins under AQE automatically; the
    shuffle form is kept so both sides scale.

    The split is the deterministic md5-slot gate shared with
    `curation.sample_hash` (incoming = slot < pct_incoming) so the oracle
    can reproduce it; a production caller passes two real tables instead.
    MinHash-LSH candidates (same 16×2 banding and ~0.99 recall floor at
    j≥0.5 as `dedup_near_minhash`), exact-jaccard verify on hashed
    shingles, then one aggregate per incoming doc: how many base near-dups,
    the best jaccard, and the smallest matching base id (order-independent
    aggregates only — no arg-max ties to diverge cross-engine).
    """
    sc = documents.sparkSession.sparkContext
    # shingle map work on every core (r17: 1.19× at 32 cores)
    spread = documents.repartition(sc.defaultParallelism, "doc_id")
    docs = _reused(
        "xcorpus_shingles",
        _doc_shingles(spread, n)
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            incoming_gate(pct_incoming).alias("incoming"),
            F.transform("sh", lambda s: F.xxhash64(s)).alias("sh"),
        ),
    )
    buckets = lsh_buckets(docs, num_perm, bands)
    new_b = buckets.filter("incoming").select(
        F.col("doc_id").alias("doc_new"), "band", "bh"
    )
    base_b = buckets.filter(~F.col("incoming")).select(
        F.col("doc_id").alias("doc_base"), "band", "bh"
    )
    cand = new_b.join(base_b, ["band", "bh"]).select("doc_new", "doc_base").distinct()
    return cross_verify(cand, docs, threshold)


def dedup_cluster(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    df_cap: int = 8192,
) -> DataFrame:
    """Near-dup clustering: connected components over the exact-Jaccard pair
    graph, canonical doc = min doc_id per component (the row a pipeline
    keeps; everything else is dropped as a duplicate).

    Iterative min-label propagation — the Pregel pattern in plain DataFrame
    ops: each round every doc takes min(own label, neighbors' labels); the
    driver loop stops at fixpoint (an aggregate per round, not data
    collection). Near-dup components are dense and tiny, so rounds ≈
    component diameter ≈ 2-4; each round is one shuffle on doc_id. The
    fixpoint (min reachable id) is unique, hence oracle-exact.
    """
    sc = documents.sparkSession.sparkContext
    # shingle map work on every core (r17: 1.43× at 32 cores)
    spread = documents.repartition(sc.defaultParallelism, "doc_id")
    pairs = dedup_ngram_jaccard(spread, threshold, n, df_cap).select(
        "doc_a", "doc_b"
    )
    return connected_components(pairs, documents.select("doc_id"))


def connected_components(pairs: DataFrame, universe: DataFrame) -> DataFrame:
    """Min-label connected components over an undirected pair graph —
    the reusable Pregel core behind `dedup_cluster` and `emb_cluster`.

    ``pairs``: (doc_a, doc_b) edges; ``universe``: one column of ALL ids
    (isolated ids become their own canonical, attached by one final
    broadcast join, no iteration). See `dedup_cluster` for the scale
    rationale (edge-vertex-only label table, pointer jumping, one job per
    round via observe)."""
    from pyspark.sql import Observation

    id_col = universe.columns[0]
    if id_col != "doc_id":
        universe = universe.select(F.col(id_col).alias("doc_id"))
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    # Iterate ONLY over vertices that have an edge: a near-dup graph is
    # sparse (most of the corpus is isolated), so the label table the loop
    # shuffles is |V(edges)| rows, not |corpus| — at 100 TB that is the
    # difference between joining a few million rows per round and joining
    # the whole corpus per round. Isolated docs are their own canonical id
    # and are attached with one final broadcast join, no iteration.
    n_edges = edges.count()  # materialize the cache: labels below re-scans
    # edges, and an unpopulated persist would recompute the pair pipeline
    spark = pairs.sparkSession
    # size the loop's shuffles to the EDGE table, not the session default:
    # the label table is edge-vertices only, so 32+ partitions of a few
    # hundred rows is pure per-round task overhead (measured ~2x the round
    # wall at test scale); grows with the graph for cluster-scale runs
    # NOTE: session-global knob, same single-query-at-a-time assumption as
    # streaming._stream_shuffle — a concurrently planning query in this
    # session would pick up the narrowed setting. The scoped alternative
    # (pre-repartitioning both join sides each round) adds an Exchange per
    # table per round, which is exactly the overhead being removed.
    nparts = max(4, min(200, n_edges // 50_000 + 1))
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
    try:
        labels = _cc_iterate(edges)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return (
        universe.join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("canonical_id")
        )
    )


def _cc_iterate(edges: DataFrame) -> DataFrame:
    from pyspark.sql import Observation

    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("lbl"))
        .persist()
    )
    converged = False
    # r16 probe note: two variants were measured and REJECTED — (a) an
    # eager repartition+persist of edges on doc_b (kills the per-round
    # edge Exchange; 3x slower at sf0.1, the extra materialization job
    # dominates the few rounds LSH graphs need) and (b) shuffle_hash
    # hints on every per-round join (2x slower cold: the hint blocks
    # AQE's runtime broadcast conversion of the small label tables).
    # Unhinted joins + AQE remain the measured optimum.
    for _ in range(64):  # generous bound; non-convergence RAISES below
        neigh = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy("doc_a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = (
            labels.join(neigh, labels.doc_id == neigh.doc_a, "left")
            .select(
                "doc_id",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
            )
        )
        # pointer jumping: also adopt the label's OWN label (path compression
        # halves the rounds needed; deeper chained jumps were measured NET
        # SLOWER here — each extra pass re-executes the unmaterialized join
        # chain, tripling per-round cost for graphs that converge in a few
        # rounds anyway)
        parent = labels.select(
            F.col("doc_id").alias("p_id"), F.col("lbl").alias("p_lbl")
        )
        jumped = (
            stepped.join(parent, stepped.lbl == parent.p_id, "left")
            .select(
                "doc_id",
                F.least(F.col("lbl"), F.coalesce("p_lbl", F.col("lbl"))).alias("lbl"),
            )
        )
        # single job per round: materialize the new labels AND count changes.
        # localCheckpoint (not persist) TRUNCATES the lineage: each round
        # references `labels` four times, so without truncation the logical
        # plan grows ~4x per round — at round ~15 the plan string alone hit
        # the 2 GB JVM limit and analysis dwarfed the actual (tiny) joins.
        obs = Observation()
        old = labels.select(
            F.col("doc_id").alias("o_id"), F.col("lbl").alias("o_lbl")
        )
        new_labels = (
            jumped.join(old, jumped.doc_id == old.o_id)
            .observe(
                obs,
                F.sum(
                    F.when(F.col("lbl") != F.col("o_lbl"), 1).otherwise(0)
                ).alias("changed"),
            )
            .select("doc_id", "lbl")
            .localCheckpoint(eager=True)
        )
        labels.unpersist()
        labels = new_labels
        if not obs.get["changed"]:
            converged = True
            break
    if not converged:
        # the engine's no-silent-caps rule: returning partially propagated
        # labels would split components into several canonical ids with no
        # sign anything went wrong
        raise RuntimeError(
            "connected_components did not converge in 64 rounds — "
            "pathologically deep pair graph; raise the bound or pre-thin "
            "the edges (e.g. a higher similarity threshold)"
        )
    return labels


def simhash64(documents: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: sign of per-bit ±1 sums over token hashes.

    explode(tokens) → 64 conditional sums in ONE hash aggregate → bit
    reassembly. One shuffle on doc_id; the 64 sums are a single combine-able
    aggregate row per doc.

    Token bits come from md5 (two 32-bit halves of the hex digest) rather
    than xxhash64: md5 hex is byte-identical in every engine, which is what
    lets the DuckDB oracle value-check the signatures — xxhash64 exists
    only in Spark. Still one JVM expression per token, no UDF.
    """
    tok = (
        documents.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .withColumn("m", F.md5("t"))
        .withColumn("h1", F.conv(F.substring("m", 1, 8), 16, 10).cast("long"))
        .withColumn("h2", F.conv(F.substring("m", 9, 8), 16, 10).cast("long"))
    )
    aggs = [
        F.sum(
            (
                F.shiftright(F.col("h1" if i < 32 else "h2"), i % 32)
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            )
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(64):
        # 1 << 63 wraps to long-min — the sign bit, still a valid bit flag
        bit = (1 << i) - (1 << 64 if i == 63 else 0)
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(bit)).otherwise(0)
    return sums.select("doc_id", sim.alias("simhash"))


def dedup_simhash(documents: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup pairs: 4×16-bit band blocking + exact hamming verify.

    Any pair with hamming ≤ 3 shares at least one exact 16-bit band
    (pigeonhole); wider thresholds trade recall, like all SimHash blocking.
    """
    sc = documents.sparkSession.sparkContext
    # md5-per-token work on every core (r17: 1.76× at 32 cores)
    spread = documents.repartition(sc.defaultParallelism, "doc_id")
    # 16 B/doc — the canonical persist: both join sides read it, and the
    # alternative is running tokenize+md5 over the full corpus twice
    sh = _reused("simhash_sig", simhash64(spread))
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bits"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        # filter BEFORE the dedup shuffle: hamming is a pure function of the
        # pair, so far-pairs (the vast majority of band collisions) drop
        # map-side instead of crossing the distinct's Exchange (r16)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hashed_spans(
    documents: DataFrame, w: int = 16, keep_mod: int = 8
) -> DataFrame:
    """Content-selected hashed w-token windows: (doc_id, span_hash) for
    every window whose 60-bit md5-prefix hash is ≡ 0 (mod keep_mod).
    Shared by `dedup_substring` (the cross-doc span registry) and
    `text_boilerplate_ratio` (per-doc duplicated-passage fraction) — see
    dedup_substring's docstring for the content-defined-selection
    rationale (Broder fingerprinting; copies select the SAME windows at
    any offset, which a fixed stride cannot)."""
    return (
        documents.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= w)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - (w - 1))
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice("toks", F.col("i"), w), " ")), 1, 15
                ),
                16,
                10,
            )
            .cast("long")
            .alias("span_hash"),
        )
        .filter(F.col("span_hash") % keep_mod == 0)
    )


def dedup_substring(
    documents: DataFrame, w: int = 16, keep_mod: int = 8, min_docs: int = 2
) -> DataFrame:
    """Repeated-span registry — substring-level dedup (the cross-document
    duplicated-passage detection of Lee et al.'s "Deduplicating Training
    Data Makes Language Models Better", restated for Spark: content-
    selected hashed windows replace the suffix array).

    Every w-token window is hashed (60-bit md5 prefix — engine-portable,
    unlike xxhash64) and a window is KEPT iff hash % keep_mod == 0.
    Selection is content-defined, so two copies of a passage select the
    SAME windows regardless of where the passage sits in each doc — the
    property a fixed stride lacks (strided windows are phased to the doc
    start, and two copies at different offsets never align). A duplicated
    passage of L tokens is detected with P = 1-(1-1/keep_mod)^(L-w+1)
    (≈ 99.8% at L = 60, w = 16, keep_mod = 8) — the standard Broder
    fingerprinting trade; lower keep_mod for more recall.

    One hash-aggregate with map-side combine over |tokens|/keep_mod 8-byte
    keys — the text itself never shuffles. Output is the span registry a
    removal pass would join against (the shape decontaminate uses).
    """
    spans = hashed_spans(documents, w, keep_mod)
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "span_hash",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_occ").cast("long").alias("n_occ"),
            "min_doc",
        )
    )


def dedup_fuzzy(
    df: DataFrame,
    col: str = "p_name",
    max_dist: int = 2,
    q: int = 3,
) -> DataFrame:
    """Fuzzy string matching (entity resolution): pairs of DISTINCT values
    of ``col`` within ``max_dist`` Levenshtein edits, with each value's row
    count carried for the merge decision — the name-typo dedup primitive
    (customer/vendor/product-name reconciliation).

    Shape for scale: collapse to distinct values FIRST (one hash-agg — the
    value domain is orders of magnitude smaller than the row count; here
    64 names for 20k rows), block candidate pairs by shared q-gram
    equi-join (never all-pairs), verify with the JVM ``levenshtein``.
    Blocking is part of the operator's CONTRACT (the oracle replays it
    exactly): for values longer than q·(max_dist+1)+q-1 chars a true match
    always shares a q-gram (edits destroy ≤ q·max_dist grams), so recall
    is provably 1 there; shorter values may need a smaller q. Values
    shorter than q have no grams and never match.
    """
    names = (
        df.groupBy(F.lower(F.col(col)).alias("name"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.length("name") >= q)
    )
    grams = names.select(
        "name",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(name) - {q - 1}),"
                f" i -> substring(name, i, {q}))"
            )
        ).alias("g"),
    ).distinct()
    a, b = grams.alias("a"), grams.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.name") < F.col("b.name")))
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()
    )
    na = names.select(F.col("name").alias("name_a"), F.col("n_rows").alias("n_rows_a"))
    nb = names.select(F.col("name").alias("name_b"), F.col("n_rows").alias("n_rows_b"))
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .join(na, "name_a")
        .join(nb, "name_b")
        .select("name_a", "name_b", "dist", "n_rows_a", "n_rows_b")
    )


def decontaminate_fuzzy(
    documents: DataFrame,
    threshold: float = 0.3,
    pct_test: int = 20,
    num_perm: int = 32,
    bands: int = 32,
    n: int = 3,
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag TRAIN documents that are
    near-duplicates of the held-out TEST split — the leakage the exact
    hashed-gram `curation.decontaminate` misses (paraphrase, whitespace
    edits, partial copies shift every n-gram but leave Jaccard high).

    Same cross-side-only LSH discipline as `dedup_cross_corpus` (train and
    test bucket independently, join ACROSS sides only — never train×train),
    but with 32×1 banding instead of 16×2: at the lower decontamination
    threshold j=0.3, 16 two-row bands catch only ~78% of true pairs
    (1-(1-j²)^16) while 32 single-row bands catch ≥1-(1-j)^32 ≈ 0.99999 —
    the banding must be re-tuned to the threshold it serves or the exact
    oracle exposes the recall gap. Candidates get the exact-Jaccard
    verify; output = one row per contaminated train doc (match count,
    smallest matching test id, best jaccard).
    """
    docs = _reused(
        "decontam_fuzzy_shingles",
        _doc_shingles(documents, n)
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            incoming_gate(pct_test).alias("is_test"),
            F.transform("sh", lambda s: F.xxhash64(s)).alias("sh"),
        ),
    )
    buckets = lsh_buckets(docs, num_perm, bands)
    train_b = buckets.filter(~F.col("is_test")).select(
        F.col("doc_id").alias("doc_new"), "band", "bh"
    )
    test_b = buckets.filter(F.col("is_test")).select(
        F.col("doc_id").alias("doc_base"), "band", "bh"
    )
    cand = train_b.join(test_b, ["band", "bh"]).select("doc_new", "doc_base").distinct()
    return cross_verify(cand, docs, threshold).select(
        "doc_id",
        F.col("n_dups").alias("n_test_matches"),
        F.col("min_base").alias("min_test_id"),
        "best_jaccard",
    )


def dedup_keep_best(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    df_cap: int = 8192,
) -> DataFrame:
    """Near-dup clustering with QUALITY-AWARE survivor selection: instead
    of `dedup_cluster`'s keep-the-min-id policy, each component keeps its
    highest-`quality_score` member (ties → more tokens → lower doc_id) —
    the pipeline step real curation runs, because the arbitrary member of
    a dup cluster is often the truncated/boilerplated copy and the best
    one should survive.

    Pure composition of audited parts: the exact-Jaccard pair graph +
    min-label components (one iterative fixpoint over edge vertices), the
    shared `quality_score_expr` (integer/ratio arithmetic — engine-exact),
    and ONE `max_by(struct)` per component for the deterministic argmax.
    Adds a single |docs|-row join + component-key agg on top of
    dedup_cluster's cost.
    """
    from kdb_spark.llm.textstats import quality_score_expr

    labels = dedup_cluster(documents, threshold, n, df_cap)
    scored = documents.select(
        "doc_id", "text", tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        quality_score_expr(F.col("toks")).cast("long").alias("score"),
    )
    j = labels.join(scored, "doc_id")
    # Packed-long argmax (the join_band / sql_waiting_supplier device):
    # max_by(struct, struct) carries variable-width buffers, which demotes
    # the per-component aggregate to SortAggregate + Sort on BOTH sides of
    # the exchange. One BIGINT whose numeric order equals the (score,
    # n_tokens, -doc_id) pick order keeps it a two-phase HashAggregate with
    # map-side partials: score is 0..4 by construction (3 bits at 60),
    # n_tokens in 20 bits at 40, doc_id bitwise-complemented in the low 40
    # so the max prefers the LOWEST id on ties. Inputs outside the pack
    # domain raise before the multiply can alias two picks.
    id_max = (1 << 40) - 1
    ok = (F.col("doc_id").between(0, id_max)) & (F.col("n_tokens") < (1 << 20))
    packed = F.when(
        ok,
        F.shiftleft(F.col("score"), 60)
        + F.shiftleft(F.col("n_tokens"), 40)
        + (F.lit(id_max) - F.col("doc_id")),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("dedup_keep_best: doc_id/n_tokens outside pack domain: "),
                F.col("doc_id").cast("string"),
            )
        )
    )
    return (
        j.groupBy("canonical_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(packed).alias("pk"),
        )
        .select(
            "canonical_id",
            (F.lit(id_max) - F.col("pk").bitwiseAND(F.lit(id_max))).alias(
                "kept_doc_id"
            ),
            F.shiftrightunsigned("pk", 60).alias("kept_score"),
            "n_members",
        )
    )


def dedup_prefix(documents: DataFrame, k: int = 64) -> DataFrame:
    """Prefix-duplicate detection: documents sharing the same normalized
    ``k``-character prefix — the crawl-dedup screen for truncation
    variants and boilerplate-stamped rewraps that exact hashing misses
    (same head, diverging tails) and shingle Jaccard over-pays for.

    Normalization = lowercase + whitespace runs collapsed to one space,
    so re-wrapped copies block together. Keep-lowest-doc_id survivor and
    group size, exactly dedup_exact's contract, keyed on sha2 of the
    prefix instead of the body.

    Scale: the shuffle carries a 32-byte hash regardless of document
    size (the dedup_exact posture); docs shorter than ``k`` normalized
    chars block on their full text — a short exact-duplicate is still a
    prefix-duplicate.
    """
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return (
        documents.select(
            F.sha2(F.substring(norm, 1, k), 256).alias("h"), "doc_id"
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


def dedup_bloom_probe(
    documents: DataFrame,
    m_bits: int = 1 << 18,
    pct_incoming: int = 20,
) -> DataFrame:
    """Bloom-filter pre-screen for incremental exact dedup: an INCOMING
    batch probes a Bloom filter built over the EXISTING corpus's content
    hashes, and every probe is adjudicated against ground truth — the
    per-doc (bloom_maybe, exact_dup) table whose disagreements ARE the
    filter's false positives. This is the cheap first gate in front of
    `dedup_cross_corpus`: at 100 TB the Bloom bitmap (m = 2^18 bits here;
    size it m ≈ −n·ln(fpr)/ln2² in production) broadcasts to every
    executor, and only bloom-maybe survivors — a few percent of the
    increment — pay the exact content join.

    Determinism device: the k = 3 bit positions are non-overlapping
    8-hex-char slices of md5(text) mod m — the repo's one portable hash
    (md5_slot discipline); no RNG, no seeds, bit-identical cross-engine.
    Ground truth is md5(text) equality (the dedup_exact contract).

    Scale shape: base side → 3 positions/doc → ONE distinct on ≤ m
    position values (the materialized "bitmap" as a long set, never
    collected); incoming side explodes to 3 (doc, position) rows,
    LEFT-semi-counts hits against the position set (broadcast — it is
    ≤ m rows regardless of corpus size), maybe = all 3 present. The
    exact-dup truth join blocks on the full md5 — equi-join on a hash,
    never text. No quadratic term anywhere.
    """
    from kdb_spark.tables import md5_slot

    docs = documents.select(
        "doc_id", F.md5(F.col("text")).alias("h"),
        md5_slot("doc_id", hex_chars=4, mod=100).alias("slot"),
    )
    base = docs.filter(F.col("slot") >= pct_incoming)
    incoming = docs.filter(F.col("slot") < pct_incoming)

    def positions(df: DataFrame) -> DataFrame:
        pos = F.array(
            *[
                (
                    F.conv(F.substring("h", 1 + 8 * t, 8), 16, 10).cast("long")
                    % m_bits
                )
                for t in range(3)
            ]
        )
        return df.withColumn("pos", F.explode(pos))

    bitmap = positions(base).select("pos").distinct()
    hits = (
        positions(incoming)
        .join(bitmap, "pos", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    truth = (
        incoming.join(
            base.select(F.col("h").alias("h_base")).distinct(),
            incoming.h == F.col("h_base"),
            "left",
        )
        .select("doc_id", F.col("h_base").isNotNull().alias("exact_dup"))
    )
    return (
        incoming.select("doc_id")
        .join(hits, "doc_id", "left")
        .join(truth, "doc_id")
        .select(
            "doc_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) == 3).alias("bloom_maybe"),
            "exact_dup",
        )
    )


def dedup_minhash_calibration(
    documents: DataFrame, perms: int = 16, min_jaccard_pct: int = 30
) -> DataFrame:
    """MinHash estimator calibration table: for every candidate pair with
    exact n-gram Jaccard ≥ ``min_jaccard_pct``/100, the number of
    agreeing MinHash slots (of ``perms``) NEXT TO the exact intersection/
    union counts — the empirical error census that justifies (or
    indicts) the LSH banding thresholds `dedup_near_minhash` runs with.
    E[m/perms] = J, so the m-vs-J scatter IS the estimator's calibration
    curve; `emb_recall_eval` plays this role for ANN, this key plays it
    for dedup.

    Determinism device: the production minhash uses xxhash64 (JVM-only);
    THIS op's signatures hash shingles with md5 (the one cross-engine
    hash — md5_slot discipline), slot j = min over shingles of the first
    8 hex chars of md5("j:" || shingle). Slower per byte, but the whole
    point here is an oracle-checkable estimator census, not throughput;
    the production op keeps xxhash64.

    Scale shape: one shingle explode feeds BOTH the signature agg
    (doc × perms rows after the map-side min partials) and the exact-
    jaccard candidate join (the dedup_ngram_jaccard device, same
    df-skew caveat); signatures rejoin the pair table as two 16-long
    arrays and agreement is one zip_with fold. Everything after the
    candidate join is pair-table-sized.
    """
    sc = documents.sparkSession.sparkContext
    # shingle and md5 map work on every core (r17: 2.0× at 32 cores)
    spread = documents.repartition(sc.defaultParallelism, "doc_id")
    docs = _doc_shingles(spread, 3)
    flat = docs.select(
        "doc_id", F.explode(F.col("sh")).alias("s"), F.size("sh").alias("n_sh")
    )
    # 16 md5 slots per (doc, shingle) — explode perms, min per (doc, j)
    mh = (
        flat.select(
            "doc_id",
            "s",
            F.explode(F.sequence(F.lit(0), F.lit(perms - 1))).alias("j"),
        )
        .select(
            "doc_id",
            "j",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("j").cast("string"), F.col("s"))),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
        .groupBy("doc_id", "j")
        .agg(F.min("h").alias("mh"))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "mh"))),
                lambda x: x["mh"],
            ).alias("sig")
        )
    )
    sizes = flat.select("doc_id", "n_sh").distinct()
    inter = (
        flat.alias("a")
        .join(
            flat.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    pairs = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "n_union", (F.col("na") + F.col("nb") - F.col("n_inter")).cast("long")
        )
        .filter(100 * F.col("n_inter") >= min_jaccard_pct * F.col("n_union"))
    )
    out = (
        pairs.join(mh.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
        .join(mh.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            F.aggregate(
                F.zip_with(
                    "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            .cast("long")
            .alias("m_agree"),
        )
    )
    return out


def dedup_suffix(documents: DataFrame, k: int = 64) -> DataFrame:
    """Suffix-duplicate detection — the mirror of `dedup_prefix` for the
    OTHER crawl pathology: pages whose heads differ (injected headers,
    timestamps, navigation crumbs) but whose bodies end identically
    (shared article tail, boilerplate footer + payload). Prefix blocking
    is blind to these by construction; together the two screens bracket
    the document.

    Same contract as dedup_prefix: normalized (lowercase, whitespace
    runs collapsed) last-``k``-chars block via `right()`, sha2 block
    key, keep-lowest-doc_id survivor + group size. Docs shorter than
    ``k`` normalized chars block on their full text.

    Scale: 32-byte hash shuffle regardless of document size (the
    dedup_exact posture); one hash agg, no sort.
    """
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return (
        documents.select(
            F.sha2(F.right(norm, F.lit(k)), 256).alias("h"), "doc_id"
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )
