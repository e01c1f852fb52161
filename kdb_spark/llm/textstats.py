"""Text analysis operators (SURVEY.md §2.K): stats, language ID heuristic,
BPE-ish token counting, rolling-hash fingerprinting. All JVM expressions
(regexp_extract_all + array lambdas) — one scan, no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kdb_spark.analytics.exact import floor_div_sql, iround_col
from kdb_spark.llm.dedup import tokens

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-doc quality stats: lengths, token counts, ratios.

    avg_tok_len = Σlen/n is a ratio of exact integers, rounded half-up to
    4 dp in integer space (r11 hardening — never round(double, 4))."""
    # materialize the token array once — each reference below would
    # otherwise re-run the regexp tokenizer (see kdb_spark/llm/dedup.py)
    toks = F.col("toks")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    t = documents.select(
        "doc_id", "text", tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, tk: acc + F.length(tk),
        ).alias("sum_len"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("long")
        .alias("n_stop"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
        .cast("long")
        .alias("n_digits"),
    )
    atl4 = F.expr(
        floor_div_sql(
            "20000 * CAST(sum_len AS DECIMAL(38,0)) + greatest(n_tokens, 1)",
            "2 * CAST(greatest(n_tokens, 1) AS DECIMAL(38,0))",
        )
    )
    return t.select(
        "doc_id",
        "n_chars_m",
        "n_tokens",
        "n_uniq",
        (atl4.cast("double") / F.lit(1e4)).alias("avg_tok_len"),
        "n_stop",
        "n_digits",
    )


def lang_id(documents: DataFrame, min_ratio: float = 0.05) -> DataFrame:
    """Stopword-ratio language heuristic: flag docs whose English-stopword
    token fraction clears the threshold. (ratio = int/int division —
    bit-identical across engines, so the threshold compare is stable; the
    DISPLAYED stop_ratio is integer-rounded to 6 dp via the DIV device,
    r11 hardening — never round(double, 6).)"""
    toks = F.col("toks")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    t = documents.select(
        "doc_id", "lang", tokens("text").alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("long")
        .alias("hits"),
        F.greatest(F.size(toks), F.lit(1)).cast("long").alias("nt"),
    )
    r6 = F.expr(
        floor_div_sql(
            "2000000 * CAST(hits AS DECIMAL(38,0)) + nt",
            "2 * CAST(nt AS DECIMAL(38,0))",
        )
    )
    ratio = F.col("hits") / F.col("nt")
    return t.select(
        "doc_id",
        "lang",
        (r6.cast("double") / F.lit(1e6)).alias("stop_ratio"),
        F.when(ratio >= min_ratio, F.lit("en")).otherwise(F.lit("unk")).alias("pred"),
    )


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """BPE-ish token counting: letter runs, digit runs, and single
    non-alnum-non-space marks each count as one token."""
    pat = F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), pat, 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(tokens("text")).cast("long").alias("n_word_tokens"),
    )


def quality_score_expr(toks: F.Column, text: str | F.Column = "text") -> F.Column:
    """The 0-4 composite quality score as a reusable expression — the ONE
    definition `quality_score` and `pipeline_corpus_prep` both gate on
    (integer/ratio arithmetic → engine-exact). ``toks`` must be a
    materialized token-array column."""
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_toks = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ) / F.greatest(n_toks, F.lit(1))
    digit_ratio = F.size(
        F.regexp_extract_all(text, F.lit("[0-9]"), 0)
    ) / F.greatest(F.length(text), F.lit(1))
    avg_tok = F.aggregate(
        toks, F.lit(0.0), lambda a, t: a + F.length(t)
    ) / F.greatest(n_toks, F.lit(1))
    return (
        F.when(n_toks >= 10, 1).otherwise(0)
        + F.when(stop_ratio >= 0.05, 1).otherwise(0)
        + F.when(digit_ratio <= 0.3, 1).otherwise(0)
        + F.when((avg_tok >= 3.0) & (avg_tok <= 12.0), 1).otherwise(0)
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite document quality gate: length / stopword / digit / token
    signals → 0-4 score → keep/drop verdict (the filter step of a
    training-data pipeline). See :func:`quality_score_expr`.
    """
    score = quality_score_expr(F.col("toks"))
    return documents.select("doc_id", "text", tokens("text").alias("toks")).select(
        "doc_id",
        score.cast("long").alias("score"),
        F.when(score >= 3, F.lit("keep")).otherwise(F.lit("drop")).alias("verdict"),
    )


def ngram_topk(documents: DataFrame, n: int = 3, k: int = 20) -> DataFrame:
    """Corpus-wide top-k most frequent word n-grams — the heavy-hitter scan
    a dedup/quality pipeline runs to find boilerplate.

    explode → hash-agg count (map-side combine) → global top-k via ONE
    ordered limit (Spark implements orderBy().limit(k) as per-partition
    top-k + single merge — no full sort, no single-partition shuffle of the
    whole count table). Ties broken by the gram text for determinism.
    """
    from kdb_spark.llm.dedup import shingles, tokens

    grams = documents.select(
        tokens("text").alias("toks")
    ).select(F.explode(shingles(F.col("toks"), n)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(k)
    )


def token_histogram(documents: DataFrame) -> DataFrame:
    """Corpus length distribution: docs and tokens per power-of-two
    token-count bin — the first chart anyone draws over a new pre-training
    corpus (and the input to length-balanced batch sizing).

    One scan + one tiny hash-agg (≤ ~40 bins regardless of corpus size);
    partial aggregation makes the shuffle a few rows per executor.
    """
    n_tok = F.size(tokens("text")).cast("long")
    bin_lo = F.pow(F.lit(2.0), F.floor(F.log2(F.greatest(n_tok, F.lit(1))))).cast(
        "long"
    )
    return (
        documents.select(n_tok.alias("n_tok"), bin_lo.alias("bin_lo"))
        .groupBy("bin_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


# RE2-safe; see curation.py for the cross-engine regex contract.
_WS_RE = "[\\s]+"
_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def text_normalize(documents: DataFrame) -> DataFrame:
    """Pre-tokenization text cleanup: strip control characters, collapse
    whitespace runs to single spaces, trim, lowercase. Emits the cleaned
    text plus the per-doc shrinkage so a pipeline can gate on "how much
    garbage did normalization remove".

    All JVM `regexp_replace`/`lower` expressions — map-only, no shuffle,
    pipelines into whatever scan feeds it at any scale.
    """
    clean = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace("text", _CTRL_RE, " "), _WS_RE, " "
            )
        )
    )
    return documents.select(
        "doc_id",
        clean.alias("norm_text"),
        (F.length("text") - F.length(clean)).cast("long").alias("chars_removed"),
    )


def udtf_tokenize(documents: DataFrame) -> DataFrame:
    """Tokenizer as a Python UDTF (lateral table function) — the §2.B
    "UDF/UDAF/UDTF surface" row.

    Deliberately the *surface* demo, not a hot-path op: UDTFs are
    row-at-a-time Python. The engine's production tokenizer is the JVM
    expression `tokens()`; Python in hot paths is always Arrow-batched
    (pandas_udf / applyInPandas / mapInPandas — see llm/similarity.py,
    llm/multimodal.py).
    """
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, token: string")
    class TokenizeUDTF:
        def eval(self, text: str):
            for i, t in enumerate(re.findall(r"[a-z0-9]+", (text or "").lower())):
                yield i, t

    spark = documents.sparkSession
    spark.udtf.register("kdbs_tokenize", TokenizeUDTF)
    documents.select("doc_id", "text").createOrReplaceTempView("kdbs_docs_udtf")
    return spark.sql(
        "SELECT doc_id, t.pos, t.token "
        "FROM kdbs_docs_udtf, LATERAL kdbs_tokenize(text) t"
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint over the token stream:
    h = fold(codes, 0, (h,c) -> (h*31 + c) mod (2^31-1)) where
    code = 17*len(token) + unicode(first char). Detects reordering that
    bag-of-shingles misses; pure integer arithmetic → engine-exact."""
    codes = F.transform(
        tokens("text"), lambda t: F.length(t).cast("long") * 17 + F.ascii(t)
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(2147483647),
    )
    return documents.select("doc_id", fp.alias("fingerprint"))


def text_repetition(documents: DataFrame, thresh: float = 0.2) -> DataFrame:
    """Repeated n-gram ratio — the "slop" quality signal LLM corpus filters
    key on (boilerplate, keyword-stuffed, and template pages score high).

    rep_tri = 1 - distinct_trigrams/total_trigrams; dup_tok the unigram
    twin. Map-only array lambdas over one scan (the trigram set never
    leaves its row — contrast dedup_ngram_jaccard, which shuffles it);
    ratios are int/int divisions, so the keep/drop flag is engine-exact.
    """
    from kdb_spark.llm.dedup import shingles, tokens

    toks = F.col("toks")
    n_tok = F.size(toks).cast("long")
    n_tri = F.greatest(n_tok - 2, F.lit(0)).cast("long")
    n_tri_uniq = F.size(shingles(toks, 3)).cast("long")
    rep_tri = 1.0 - n_tri_uniq / F.greatest(n_tri, F.lit(1))
    dup_tok = 1.0 - F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    return documents.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_tri.alias("n_trigrams"),
        n_tri_uniq.alias("n_tri_uniq"),
        F.round(rep_tri, 6).alias("rep_tri_ratio"),
        F.round(dup_tok, 6).alias("dup_tok_ratio"),
        # docs with no trigrams at all (< 3 tokens) carry no repetition
        # evidence — never flagged (rep ratio degenerates to 1.0 there)
        ((n_tri > 0) & (rep_tri >= F.lit(thresh))).alias("is_repetitive"),
    )


def quality_rarity(documents: DataFrame) -> DataFrame:
    """Corpus-frequency rarity score per doc: the average corpus-wide
    occurrence count of the doc's tokens — the cheap stand-in for
    perplexity filtering (very high = boilerplate built from the corpus's
    most common words; very low = OCR junk / codes / non-language).

    Integer-exact on purpose: a real LM-perplexity proxy needs log(), and
    libm rounding differs across engines; sums of integer counts divided
    once are bit-deterministic everywhere. Two hash aggregates (vocab,
    then per-doc) + one token equi-join — the vocab side is Zipf-bounded,
    far smaller than the corpus, so AQE broadcasts it at any scale.
    """
    toks = documents.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("cnt").cast("long").alias("sum_freq"),
            F.round(
                F.sum("cnt").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_tok_freq"),
        )
    )


def text_tfidf_topk(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per doc — the keyword-extraction primitive a
    corpus indexer / topic labeler runs over every document.

    score = tf * ln(N / df); ties broken lexically so the top-k cut is
    deterministic. Plan shape = inverted-index build: one map-side explode,
    a (doc, term) hash-agg for tf, a term hash-agg for df (map-side
    partials — the term key-space is the Zipf-bounded vocab, orders of
    magnitude smaller than the posting list), and one vocab-sized join
    AQE broadcasts at any corpus scale. N arrives as a broadcast 1-row
    cross join, never a driver collect. The final per-doc top-k is a
    window over the already-doc-partitioned postings — no extra Exchange.
    """
    from kdb_spark.llm.dedup import tokens
    from pyspark.sql import Window

    toks = documents.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    score = F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            score.alias("score"),
        )
        .select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score", F.col("rnk").cast("long").alias("rnk"))
    )


BM25_QUERY = ("vector", "hash", "merge")


def text_bm25_topk(
    documents: DataFrame,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval: score every document against a fixed term query and
    return the global top-k — the classic sparse-retrieval ranker (and the
    usual hybrid partner of the ANN ops in kdb_spark/llm/similarity.py).

    idf = ln(1 + (N - df + .5)/(df + .5)) (Robertson positive variant);
    score = Σ_q idf · tf(k1+1)/(tf + k1(1 - b + b·dl/avgdl)).

    Scale posture: the query-term filter lands BEFORE the tf shuffle, so
    only postings matching the (tiny, literal) query ever leave the map
    side — the corpus itself is scanned once and never shuffled. dl/avgdl
    come from a bigint token-count aggregate (exact, order-independent);
    N/avgdl/df join in as broadcast one-row / |query|-row tables. Global
    top-k is a single ordered limit (Spark's TakeOrderedAndProject —
    per-partition heaps, no full sort).
    """
    from kdb_spark.llm.dedup import tokens

    q_arr = F.array(*[F.lit(t) for t in query])
    base = documents.select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        F.filter("toks", lambda t: F.array_contains(q_arr, t)).alias("hits"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        base.select("doc_id", "dl", F.explode("hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n, sum_dl = F.col("n_docs"), F.col("sum_dl")
    avgdl = sum_dl.cast("double") / n
    idf = F.log(
        F.lit(1.0) + (n - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_c = F.col("tf").cast("double")
    part = idf * tf_c * (k1 + 1.0) / (
        tf_c + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_hits"),
            F.round(F.sum(part), 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def text_pmi_bigrams(
    documents: DataFrame, k: int = 30, min_count: int = 5
) -> DataFrame:
    """Collocation mining: the top-k adjacent token bigrams by pointwise
    mutual information — PMI = ln(N·c(a,b) / (c(a)·c(b))) over corpus
    counts — the classic "which word pairs belong together" signal a
    tokenizer-vocabulary or phrase-detection pass feeds on (high PMI +
    min-count = candidate merge; the BPE intuition as an analytics query).

    Bigram space is bounded by corpus LENGTH (adjacent pairs only), never
    vocab² co-occurrence: one map-side explode of zipped neighbors → one
    hash-agg; unigram counts are a second tiny agg the (Zipf-bounded)
    join broadcasts; N arrives as a broadcast 1-row count. PMI derives
    from exact bigint counts through one identical double expression —
    the min-count floor also keeps the estimator out of the noisy tail.
    """
    from kdb_spark.llm.dedup import tokens
    from pyspark.sql import Window

    toks = documents.select(tokens("text").alias("t"))
    big = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    n_bg = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    # marginals over the SAME sample space as the joint (bigram slots):
    # p(a,·) = left-slot count / N, p(·,b) = right-slot count / N — exact
    # integers, no halved-participation truncation
    n_left = big.groupBy("w1").agg(F.count(F.lit(1)).alias("n_a"))
    n_right = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n_b"))
    total = n_bg.agg(F.sum("n_ab").cast("long").alias("n_total"))
    w = Window.orderBy(F.desc("pmi"), "w1", "w2")
    return (
        n_bg.filter(F.col("n_ab") >= min_count)
        .join(F.broadcast(n_left), "w1")
        .join(F.broadcast(n_right), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.log(
                    F.col("n_total").cast("double") * F.col("n_ab")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def text_hash_features(documents: DataFrame, n_slots: int = 256) -> DataFrame:
    """Feature hashing (the "hashing trick"): each doc's token counts
    folded into a fixed n_slots-wide sparse vector — the input
    featurization for fastText-style quality/language classifiers at
    corpus scale, where a materialized vocabulary would itself be a
    100 TB-sized join table. Emitted sparse as (doc_id, slot, cnt) rows —
    dense array columns defeat both columnar compression and the
    cross-engine canonicalizer.

    The slot hash is the engine's portable md5-prefix convention (same
    primitive as dataset_split / mix_apply — first 4 hex chars → int %
    n_slots), NOT xxhash/murmur, so any engine replays membership exactly.
    One explode + ONE (doc, slot) hash-agg with map-side combine;
    no vocabulary table, no join, output ≤ n_slots rows per doc.
    """
    from kdb_spark.llm.dedup import tokens
    from kdb_spark.tables import md5_slot

    slot = md5_slot("tok", hex_chars=4, mod=n_slots).cast("int")
    return (
        documents.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", slot.alias("slot"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def text_boilerplate_ratio(
    documents: DataFrame, w: int = 16, keep_mod: int = 8, min_docs: int = 2
) -> DataFrame:
    """Per-document duplicated-passage fraction — the filtering score the
    span registry exists for: what share of a doc's (content-selected)
    w-token windows also occur in ≥ ``min_docs`` OTHER docs' text. The
    CCNet/RefinedWeb boilerplate signal, restated for the span machinery
    `dedup_substring` already defines: a window counts as duplicated when
    its span_hash occurs in ≥ ``min_docs`` distinct docs corpus-wide
    (min_docs=2 ⇒ at least one doc besides, possibly, this one). A doc
    that is mostly duplicated passage gets ratio → 1 and is dropped or
    downweighted by the curation pass; unique prose stays near 0.

    Composition, all spans shared via ONE materialization: `hashed_spans`
    (the Broder content-defined sample, |tokens|/keep_mod rows) feeds both
    (1) the registry agg per span_hash (countDistinct docs ≥ min_docs) and
    (2) the per-doc rollup; the dup flag attaches with a span_hash equi
    join (dimension-sized right side after the filter; AQE broadcasts it
    when small). The ratio n_dup/n_kept is an exact integer ratio,
    rounded to 6 dp in integer space (the engine's sign-free DIV device) —
    never a double round. Docs with fewer than w tokens have no windows
    and are absent, the same domain contract as dedup_substring.

    Reference framing: the reference engine has no text surface; this op
    extends SURVEY §2.K's training-data pipeline coverage (dedup family).
    """
    from kdb_spark.llm.dedup import _reused, hashed_spans

    spans = _reused(
        f"boiler_spans_{w}_{keep_mod}", hashed_spans(documents, w, keep_mod)
    )
    registry = (
        spans.groupBy("span_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("span_hash", F.lit(1).alias("is_dup"))
    )
    return (
        spans.join(registry, "span_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_kept",
            "n_dup",
            (
                F.expr(
                    floor_div_sql(
                        "2000000 * CAST(n_dup AS DECIMAL(38,0)) + n_kept",
                        "2 * CAST(n_kept AS DECIMAL(38,0))",
                    )
                )
                .cast("double")
                / F.lit(1e6)
            ).alias("boiler_ratio"),
        )
    )


def text_vocab_coverage(documents: DataFrame, vocab_size: int = 64) -> DataFrame:
    """Vocabulary-coverage report: build the corpus top-``vocab_size``
    token vocabulary (by total frequency), then score every document by
    how much of it the vocab covers — the standard pre-tokenizer-training
    check ("what OOV rate would a vocab this big leave?").

    Two fact-sized passes over the exploded tokens (the count agg and the
    per-doc score), ONE tiny TakeOrdered for the vocab (deterministic:
    count desc, token asc), vocab attached by broadcast join — no
    row-wise Python, no vocabulary shuffle. covered/n_tokens is an exact
    integer ratio, rounded in integer space (sign-free DIV). Docs with
    zero tokens are absent (no tokens to cover — same domain contract as
    the other token ops).
    """
    from kdb_spark.llm.dedup import _reused

    toks = _reused(
        f"vocab_cov_toks_{vocab_size}",
        documents.select("doc_id", F.explode(tokens("text")).alias("tok")),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).cast("long").alias("covered"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "covered",
            (
                F.expr(
                    floor_div_sql(
                        "2000000 * CAST(covered AS DECIMAL(38,0)) + n_tokens",
                        "2 * CAST(n_tokens AS DECIMAL(38,0))",
                    )
                )
                .cast("double")
                / F.lit(1e6)
            ).alias("coverage"),
        )
    )


def text_msttr(documents: DataFrame, seg: int = 50) -> DataFrame:
    """Lexical diversity per document: plain type-token ratio plus MSTTR
    (Mean Segmental TTR — mean TTR over consecutive ``seg``-token
    segments), the standard length-robust diversity metric (plain TTR
    decays with document length, so corpus filters threshold MSTTR
    instead). The curation gate between `text_stats` (raw counts) and
    `text_repetition` (n-gram dup ratios): low diversity ⇒ template/spam.

    EXACT cross-engine: both metrics are ratios of exact integers —
    ttr = n_types/n_tokens, msttr = Σ_i types_i / (seg·n_segs) over the
    floor(n/seg) FULL segments (the trailing partial segment is excluded,
    per the metric's definition) — integer-rounded half-up to 6 dp (the
    DIV device; never round(double, 6)). Docs with no tokens get null
    ttr; docs shorter than ``seg`` tokens get null msttr.

    Scale shape: map-only — tokenize once, segment via array slices
    inside the row (no explode, no shuffle, no UDF; all expression-level
    array lambdas under whole-stage codegen). The 100 TB cost is the one
    corpus scan every per-doc text op pays.
    """
    from kdb_spark.llm.dedup import tokens

    t = documents.select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_types"),
        # gated: sequence(0, -1) is a DESCENDING [0, -1] in Spark, not
        # empty — short docs must not build segment slices at all
        F.when(
            F.size("toks") >= seg,
            F.aggregate(
                F.transform(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.expr(f"size(toks) div {seg}") - 1,
                    ),
                    lambda i: F.size(
                        F.array_distinct(
                            F.slice("toks", (i * seg + 1).cast("int"), seg)
                        )
                    ).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("seg_types"),
        F.expr(f"size(toks) div {seg}").cast("long").alias("n_segs"),
    )
    ttr6 = F.when(
        F.col("n_tokens") > 0,
        F.expr(
            floor_div_sql(
                "2000000 * CAST(n_types AS DECIMAL(38,0)) + n_tokens",
                "2 * CAST(n_tokens AS DECIMAL(38,0))",
            )
        ),
    )
    msttr6 = F.when(
        F.col("n_segs") > 0,
        F.expr(
            floor_div_sql(
                f"2000000 * CAST(seg_types AS DECIMAL(38,0))"
                f" + {seg} * CAST(n_segs AS DECIMAL(38,0))",
                f"2 * {seg} * CAST(n_segs AS DECIMAL(38,0))",
            )
        ),
    )
    return t.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_segs",
        (ttr6.cast("double") / F.lit(1e6)).alias("ttr"),
        (msttr6.cast("double") / F.lit(1e6)).alias("msttr"),
    )


def text_hapax_ratio(documents: DataFrame) -> DataFrame:
    """Hapax legomena profile per document: how many token TYPES occur
    exactly once, as a share of types and of tokens — the vocabulary-
    freshness signal between text_msttr (segmental diversity) and
    text_repetition (n-gram dup ratios). High hapax share ⇒ rich/noisy
    vocabulary (OCR garbage also scores high — pair with quality_score);
    near-zero ⇒ template text.

    EXACT cross-engine: counts are exact integers over the shared
    tokenizer (kdb_spark/llm/dedup.py `tokens`), ratios go through the
    integer device at 6 dp. Empty docs report null ratios.

    Scale shape: map-only, NO explode/shuffle — the per-doc hapax count
    sorts the token array once and counts elements whose neighbours both
    differ (an O(n log n) expression-level pass, vs the explode →
    groupBy(doc, token) → count=1 plan, which shuffles the full token
    stream — strictly worse at 100 TB since the reduce key space IS the
    corpus). All array lambdas run under whole-stage codegen; the one
    corpus scan is the cost every per-doc text op pays.
    """
    # srt MUST be a materialized column before the neighbour scan:
    # element_at re-evaluates its array argument, so an inline
    # array_sort(toks) would re-sort per position — the quadratic trap
    # shingles() documents (kdb_spark/llm/dedup.py)
    t = documents.select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id", F.col("toks"), F.array_sort("toks").alias("srt")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_types"),
        # hapax = types − types-with-≥2-occurrences; the latter are the
        # distinct values at adjacent-equal positions of the sorted array
        # (i..i+1 stays in [1, n] — no index-0/out-of-range element_at,
        # which errors/NULLs engine-dependently), gated for n < 2 where
        # Spark's sequence(1, 0) counts DOWN instead of emitting empty
        # (the msttr gate)
        F.expr(
            """
            CAST(size(array_distinct(srt)) AS BIGINT)
            - CAST(CASE WHEN size(srt) >= 2 THEN
              size(array_distinct(filter(
                transform(sequence(1, size(srt) - 1),
                  i -> IF(element_at(srt, i) = element_at(srt, i + 1),
                          element_at(srt, i), NULL)),
                x -> x IS NOT NULL)))
            ELSE 0 END AS BIGINT)
            """
        ).alias("n_hapax"),
    )
    def ratio6(num: str, den: str) -> F.Column:
        return F.when(
            F.col(den) > 0,
            F.expr(
                floor_div_sql(
                    f"2000000 * CAST({num} AS DECIMAL(38,0)) + {den}",
                    f"2 * CAST({den} AS DECIMAL(38,0))",
                )
            ).cast("double")
            / F.lit(1e6),
        )
    return t.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        ratio6("n_hapax", "n_types").alias("hapax_type_ratio"),
        ratio6("n_hapax", "n_tokens").alias("hapax_token_ratio"),
    )


def text_simpson_diversity(documents: DataFrame) -> DataFrame:
    """Simpson concentration / Gini–Simpson diversity per document: the
    probability two randomly drawn tokens are the same type
    (λ = Σnᵢ(nᵢ−1)/(N(N−1)), unbiased form) and its complement — the
    repetition-vs-richness gate that, unlike TTR, is insensitive to the
    long tail of rare types (pairs with text_hapax_ratio, which measures
    ONLY the tail).

    EXACT cross-engine: the equal-pair count is an exact integer from a
    single fold over the sorted token array (run-length pairs:
    Σ C(run,2) accumulated as pairs += run_so_far at every adjacent-equal
    step), and both statistics are exact rationals through the decimal
    device at 6 dp — λ = 2p/(N(N−1)), 1−λ = (N(N−1)−2p)/(N(N−1)), N
    widened before the multiply. Docs with N < 2 report nulls.

    Scale shape: map-only like text_hapax_ratio — tokenize, one
    array_sort, one O(n) aggregate fold per row; no explode, no shuffle,
    whole-stage codegen. The DuckDB oracle derives the SAME pair count
    from an unnest+group plan — different shape, identical integers —
    because the oracle only has to match results, not the plan.
    """
    t = documents.select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id", F.array_sort("toks").alias("srt")
    ).select(
        "doc_id",
        F.size("srt").cast("long").alias("n_tokens"),
        # fold state (prev token, current run length, equal pairs so far);
        # tokens are non-empty so the '' sentinel never matches
        F.expr(
            """
            aggregate(srt,
              struct('' AS prev, CAST(0 AS BIGINT) AS run,
                     CAST(0 AS BIGINT) AS pairs),
              (acc, x) -> IF(x = acc.prev,
                struct(x AS prev, acc.run + CAST(1 AS BIGINT) AS run,
                       acc.pairs + acc.run AS pairs),
                struct(x AS prev, CAST(1 AS BIGINT) AS run, acc.pairs AS pairs)),
              acc -> acc.pairs)
            """
        ).alias("p"),
    )
    den = "CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)"
    def dev(num: str) -> F.Column:
        return F.when(
            F.col("n_tokens") > 1,
            F.expr(
                floor_div_sql(f"2000000 * CAST({num} AS DECIMAL(38,0)) + ({den})",
                              f"2 * ({den})")
            ).cast("double")
            / F.lit(1e6),
        )
    return t.select(
        "doc_id",
        "n_tokens",
        F.col("p").alias("n_equal_pairs"),
        dev("2 * p").alias("simpson"),
        dev(f"({den}) - 2 * p").alias("gini_simpson"),
    )


def text_yule_k(documents: DataFrame) -> DataFrame:
    """Yule's characteristic K per language — the classic vocabulary-
    repetitiveness constant: K = 10⁴·(S₂ − S₁)/S₁² where S₁ = Σ m·V(m)
    (= total tokens) and S₂ = Σ m²·V(m) over the corpus frequency
    spectrum V(m). Unlike per-document TTR/MSTTR/Simpson, K is
    length-insensitive and CORPUS-level — the knob data-curation mixes
    monitor when rebalancing sources (high K = repetitive boilerplate-ish
    corpus; ~100–200 is typical prose).

    EXACT cross-engine: token frequencies m are exact integer counts,
    S₂ accumulates in decimal(38,0) (m² overflows int64 only past
    m ≈ 3·10⁹ occurrences of one type — disclosed: s2 surfaces as BIGINT,
    safe while S₂ < 2⁶³, i.e. corpus tokens ≲ 10⁹ per lang at worst-case
    concentration; the K device itself stays decimal end to end), and
    K = 10⁴·(S₂−S₁)/S₁² is an exact non-negative rational (S₂ ≥ S₁
    always) through the unsigned decimal device at 6 dp. A lang group
    exists only if it produced ≥ 1 token, so S₁ ≥ 1 — no zero-den guard.

    Scale shape: explode → two partial+final hash aggs — (lang, token)
    counts are Zipf-bounded (vocab ≪ corpus), the per-lang final is tiny.
    No window, no join, no UDF; the same posture as ngram_topk.
    """
    f = documents.select("lang", F.explode(tokens("text")).alias("tok"))
    m = f.groupBy("lang", "tok").agg(F.count(F.lit(1)).cast("long").alias("m"))
    g = m.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("m").cast("long").alias("n_tokens"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("s2"),
    )
    k6 = iround_col(
        "10000 * (s2 - n_tokens)",
        "CAST(n_tokens AS DECIMAL(38,0)) * n_tokens",
        6,
        signed=False,
    )
    return g.select(
        "lang",
        "n_types",
        "n_tokens",
        F.col("s2").cast("long").alias("s2"),
        k6.alias("yule_k"),
    )


def text_gopher_quality(documents: DataFrame) -> DataFrame:
    """Per-document line-level repetition/format signals — the Gopher/C4
    quality-filter battery: fraction of lines that are duplicates of
    another line in the SAME doc, fraction of characters inside those
    duplicated lines, fraction of lines starting with a bullet, and
    fraction ending in an ellipsis. These are the published web-scrape
    boilerplate screens (nav menus repeat lines; listicles bullet;
    truncated snippets trail "..."), sitting beside text_boilerplate_ratio
    (which screens CROSS-doc repetition) as the intra-doc form.

    Line semantics: split on newline, empty lines count (a doc of blank
    lines IS repetitive — disclosed, matching the paper's all-lines
    denominator); every text yields ≥ 1 line so n_lines ≥ 1 and only the
    character ratio needs a zero guard.

    EXACT cross-engine: duplicate counts come from a run-length fold over
    the SORTED line array (map-only — no text ever shuffles; flush-at-end
    finish lambda closes the last run), bullet/ellipsis are array filters,
    and all four ratios ride the unsigned decimal device at 6 dp. The
    oracle derives the same integers from unnest + group (different plan,
    identical arithmetic — the text_hapax_ratio precedent).

    Scale shape: map-only, whole-stage codegen; one array_sort + three
    linear folds per row.
    """
    t = documents.select(
        "doc_id", F.split("text", "\n").alias("ls")
    ).select(
        "doc_id",
        "ls",
        F.size("ls").cast("long").alias("n_lines"),
        F.expr(
            "aggregate(ls, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"
        ).alias("n_chars"),
        F.expr(
            "size(filter(ls, x -> startswith(ltrim(x), '-')"
            " OR startswith(ltrim(x), '*')))"
        ).cast("long").alias("bullet_lines"),
        F.expr(
            "size(filter(ls, x -> endswith(rtrim(x), '...')))"
        ).cast("long").alias("ellipsis_lines"),
        F.expr(
            """
            aggregate(array_sort(ls),
              struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run,
                     CAST(0 AS BIGINT) AS dl, CAST(0 AS BIGINT) AS dc),
              (acc, x) -> IF(acc.prev IS NOT NULL AND x = acc.prev,
                struct(x AS prev, acc.run + CAST(1 AS BIGINT) AS run,
                       acc.dl AS dl, acc.dc AS dc),
                struct(x AS prev, CAST(1 AS BIGINT) AS run,
                       acc.dl + IF(acc.run > 1, acc.run, CAST(0 AS BIGINT)) AS dl,
                       acc.dc + IF(acc.run > 1,
                                   acc.run * length(acc.prev),
                                   CAST(0 AS BIGINT)) AS dc)),
              acc -> struct(
                acc.dl + IF(acc.run > 1, acc.run, CAST(0 AS BIGINT)) AS dl,
                acc.dc + IF(acc.run > 1, acc.run * length(acc.prev),
                            CAST(0 AS BIGINT)) AS dc))
            """
        ).alias("dup"),
    )
    def ratio(num: str, den: str) -> F.Column:
        return iround_col(num, f"CAST({den} AS DECIMAL(38,0))", 6, signed=False)
    return t.select(
        "doc_id",
        "n_lines",
        F.col("dup.dl").alias("dup_lines"),
        F.col("dup.dc").alias("dup_chars"),
        "bullet_lines",
        "ellipsis_lines",
        ratio("dup.dl", "n_lines").alias("dup_line_ratio"),
        F.when(
            F.col("n_chars") > 0, ratio("dup.dc", "n_chars")
        ).alias("dup_char_ratio"),
        ratio("bullet_lines", "n_lines").alias("bullet_ratio"),
        ratio("ellipsis_lines", "n_lines").alias("ellipsis_ratio"),
    )


def text_langid_eval(documents: DataFrame) -> DataFrame:
    """Confusion census of the lang_id heuristic against the table's
    labeled ``lang`` column — per (label, prediction) cell count and its
    share of the label's row total, the evaluation table every classifier
    rollout reads before flipping a threshold (makes the measurement a
    first-class, oracle-checked query, like emb_recall_eval does for
    ANN).

    EXACT cross-engine: the prediction replays lang_id's integer
    stopword-ratio threshold (hits·10⁶ ≥ nt·50000 avoids the float
    compare entirely — same integers both engines), cells are exact
    counts, shares ride the unsigned device at 6 dp.

    Scale shape: one corpus scan → one (label, pred) hash agg (map-side
    combined) + a label-total window over the ≤|langs|·2 cells.
    """
    from pyspark.sql import Window

    toks = F.col("toks")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    t = documents.select(
        "lang", tokens("text").alias("toks")
    ).select(
        "lang",
        F.size(F.filter(toks, lambda tk: F.array_contains(stop_arr, tk)))
        .cast("long")
        .alias("hits"),
        F.greatest(F.size(toks), F.lit(1)).cast("long").alias("nt"),
    )
    # integer-exact threshold: hits/nt >= 0.05 ⟺ 20·hits >= nt
    pred = F.when(20 * F.col("hits") >= F.col("nt"), F.lit("en")).otherwise(
        F.lit("unk")
    )
    cells = t.select("lang", pred.alias("pred")).groupBy("lang", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wl = Window.partitionBy("lang")
    out = cells.select(
        "lang",
        "pred",
        "n",
        F.sum("n").over(wl).cast("long").alias("label_total"),
    )
    return out.select(
        "lang",
        "pred",
        "n",
        "label_total",
        iround_col("n", "CAST(label_total AS DECIMAL(38,0))", 6, signed=False)
        .alias("share"),
    )


def text_readability(documents: DataFrame) -> DataFrame:
    """Flesch reading ease per document, computed as an EXACT RATIONAL:
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) clears to
    (206835·s·w − 1015·w² − 84600·sy·s)/(1000·s·w) — every term integer,
    so the classic readability score rides the sign-aware device at 4 dp
    with no float constant ever materializing. Syllables use the
    deterministic vowel-group heuristic (runs of [aeiou] per token,
    min 1 — the standard approximation when no dictionary is licensed);
    sentences split on [.!?]+ runs, empty fragments dropped, min 1.
    The quality-filter signal C4-class pipelines gate on, beside
    text_gopher_quality's format screens.

    Scale shape: map-only (tokenizer + two regex passes per row), no
    shuffle, whole-stage codegen.
    """
    t = documents.select(
        "doc_id",
        tokens("text").alias("toks"),
        F.expr(
            "size(filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0))"
        ).cast("long").alias("raw_s"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("w"),
        F.greatest(F.col("raw_s"), F.lit(1)).alias("s"),
        F.expr(
            "aggregate(toks, CAST(0 AS BIGINT), (acc, x) ->"
            " acc + greatest(size(regexp_extract_all(x, '[aeiou]+', 0)),"
            " 1))"
        ).alias("sy"),
    )
    flesch = F.when(
        F.col("w") > 0,
        iround_col(
            "206835 * CAST(s AS DECIMAL(38,0)) * w"
            " - 1015 * CAST(w AS DECIMAL(38,0)) * w"
            " - 84600 * CAST(sy AS DECIMAL(38,0)) * s",
            "1000 * CAST(s AS DECIMAL(38,0)) * w",
            4,
            signed=True,
        ),
    )
    return t.select(
        "doc_id",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("sy").alias("n_syllables"),
        flesch.alias("flesch"),
    )


def text_code_ratio(documents: DataFrame) -> DataFrame:
    """Code-likeness screen per document: the share of lines that look
    like source code (leading indentation, braces/semicolon endings, or
    assignment-dense) plus the symbol-character share — the
    code-vs-prose router every mixed-corpus pipeline needs (route to the
    code tokenizer, or down-weight in a prose mix; beside
    text_gopher_quality's format screens).

    Heuristic, deterministic, and disclosed: a line is code-like if it
    starts with ≥ 4 spaces or a tab, OR its trimmed form ends in one of
    {{ }} ; or contains ' = ' with no sentence period. All integer
    counts; both ratios ride the unsigned device at 6 dp.

    Scale shape: map-only (one split + array filters), no shuffle.
    """
    t = documents.select(
        "doc_id",
        F.split("text", "\n").alias("ls"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[{};=<>\[\]()]"), 0)
        ).cast("long").alias("n_sym"),
    ).select(
        "doc_id",
        "n_chars",
        "n_sym",
        F.size("ls").cast("long").alias("n_lines"),
        F.expr(
            "size(filter(ls, x -> startswith(x, '    ') OR startswith(x, '\t')"
            " OR endswith(rtrim(x), '{') OR endswith(rtrim(x), '}')"
            " OR endswith(rtrim(x), ';')"
            " OR (contains(x, ' = ') AND NOT contains(x, '. '))))"
        ).cast("long").alias("code_lines"),
    )
    return t.select(
        "doc_id",
        "n_lines",
        "code_lines",
        "n_sym",
        iround_col("code_lines", "CAST(n_lines AS DECIMAL(38,0))", 6, signed=False)
        .alias("code_line_ratio"),
        F.when(
            F.col("n_chars") > 0,
            iround_col("n_sym", "CAST(n_chars AS DECIMAL(38,0))", 6, signed=False),
        ).alias("symbol_ratio"),
    )


def text_char_classes(documents: DataFrame) -> DataFrame:
    """Character-class census per document: exact counts of ASCII
    letters, digits, whitespace and everything else, with each class's
    share of the document — the first-pass encoding/garbage screen
    (mojibake, binary-in-text, digit dumps and over-punctuated spam all
    announce themselves here before any tokenizer runs; the class mix
    feeds the same routing decisions text_code_ratio makes for code).

    EXACT cross-engine: every count is length(text) minus the length
    after deleting the class — via ``translate`` with the class spelled
    out as an explicit char list (r16: translate is a per-char table
    lookup, where the former regexp_replace paid the regex engine four
    times per row for character-set matches a table serves identically;
    both engines define translate by the same char-for-char deletion, so
    the counts are bit-identical). `other` is the integer remainder, and
    the four shares ride the unsigned device at 6 dp. Empty documents
    surface null shares.

    Scale shape: map-only — four translate + length per row, no shuffle,
    scan-bound at any corpus size.
    """
    n = F.length("text").cast("long")
    def cls(chars: str) -> F.Column:
        return (
            F.length("text")
            - F.length(F.translate("text", chars, ""))
        ).cast("long")

    _ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    t = documents.select(
        "doc_id",
        n.alias("n_chars"),
        cls(_ALPHA).alias("n_alpha"),
        cls("0123456789").alias("n_digit"),
        cls(" \t\n\r").alias("n_space"),
    ).withColumn(
        "n_other",
        (F.col("n_chars") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space"))
        .cast("long"),
    )
    def share(col: str) -> F.Column:
        return F.when(
            F.col("n_chars") > 0,
            iround_col(col, "CAST(n_chars AS DECIMAL(38,0))", 6, signed=False),
        )

    return t.select(
        "doc_id",
        "n_chars",
        "n_alpha",
        "n_digit",
        "n_space",
        "n_other",
        share("n_alpha").alias("alpha_share"),
        share("n_digit").alias("digit_share"),
        share("n_space").alias("space_share"),
        share("n_other").alias("other_share"),
    )


def token_length_profile(documents: DataFrame) -> DataFrame:
    """Per-source token-length profile: exact p50 / p95 / max of the
    token count plus totals — the numbers a packing configuration is
    actually derived from (`pack_sequences` needs a budget ≥ the p95 of
    what it packs; `token_histogram` shows the corpus-wide shape, this
    gives the per-source order statistics the mix planner reads).

    EXACT cross-engine: token counts are exact integers (the shared
    tokenizer), p50/p95 are ⌈n/2⌉ / ⌈19n/20⌉-th order statistics via the
    rank device within source, totals are bigint sums.

    Scale shape: map-only token count, then the agg_var_es single-sort
    posture per source (rank + partition count + conditional agg) —
    ≤|sources| output rows.
    """
    from pyspark.sql import Window

    from kdb_spark.llm.dedup import tokens

    t = documents.select(
        "source", "doc_id", F.size(tokens("text")).cast("long").alias("nt")
    )
    wo = Window.partitionBy("source").orderBy("nt", "doc_id")
    wp = Window.partitionBy("source")
    r = t.select(
        "source",
        "nt",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    r = r.withColumn("k50", F.expr("(50 * n + 99) div 100")).withColumn(
        "k95", F.expr("(95 * n + 99) div 100")
    )
    return r.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.max(F.when(F.col("rn") == F.col("k50"), F.col("nt"))).cast("long").alias("p50_tokens"),
        F.max(F.when(F.col("rn") == F.col("k95"), F.col("nt"))).cast("long").alias("p95_tokens"),
        F.max("nt").cast("long").alias("max_tokens"),
    )


def text_source_overlap(documents: DataFrame, n: int = 3) -> DataFrame:
    """Source-level n-gram overlap matrix: for every source pair, the
    exact Jaccard of their distinct 3-gram shingle VOCABULARIES — the
    corpus-design contamination map (two "independent" sources sharing
    half their shingle vocabulary are one source for mixing purposes;
    `decontaminate` screens DOCUMENTS against a benchmark, this screens
    SOURCES against each other before mix_weights trusts them as
    distinct).

    EXACT cross-engine: shingle sets are the shared tokenizer's distinct
    3-token joins, intersections/counts are bigints off one shingle-keyed
    equi-join, J = inter/(na+nb−inter) rides the unsigned device at 6 dp.

    Scale shape: one (source, shingle) distinct (map-side combined), one
    shingle-keyed self-join whose fan-out per shingle is (sources that
    contain it)² ≤ |sources|² — vocabulary-sized, never corpus-sized; per-
    source set sizes broadcast back onto the ≤|sources|² pair table.
    """
    from kdb_spark.analytics.exact import iround_col
    from kdb_spark.llm.dedup import shingles, tokens

    # materialize the token array BEFORE shingling (dedup.shingles
    # contract: an inline tokenizer re-runs per shingle position)
    sh = (
        documents.select("source", tokens("text").alias("toks"))
        .select("source", F.explode(shingles(F.col("toks"), n)).alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    j = (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))),
            "source_b",
        )
    )
    jac = iround_col(
        "CAST(n_inter AS DECIMAL(38,0))",
        "CAST(na + nb - n_inter AS DECIMAL(38,0))",
        6,
        signed=False,
    )
    return j.select(
        "source_a",
        "source_b",
        "n_inter",
        "na",
        "nb",
        jac.alias("jaccard"),
    )


def text_stopword_profile(documents: DataFrame) -> DataFrame:
    """Corpus stopword profile per language: for each (lang, stopword),
    how many documents contain it, total occurrences, and document
    coverage — the function-word fingerprint language-ID models and
    quality filters calibrate against (text_stats carries the per-doc
    stop COUNT; this is the pooled per-word view).

    Scale shape: one token explode filtered to the fixed stopword list
    BEFORE the shuffle (the exploded stream is |matches|, not |tokens|),
    then a (lang, word) hash agg with map-side combine, joined to the
    dimension-sized per-lang doc counts (broadcast). Coverage is the
    unsigned integer device at 4 dp.
    """
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    toks = documents.select(
        "lang", "doc_id", F.explode(F.array(tokens("text"))).alias("toks")
    )
    hits = toks.select(
        "lang",
        "doc_id",
        F.explode(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).alias("w"),
    )
    per_word = hits.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    lang_totals = documents.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_lang_docs")
    )
    j = per_word.join(F.broadcast(lang_totals), "lang")
    cov4 = iround_col(
        "10000 * CAST(n_docs AS DECIMAL(38,0))",
        "10000 * CAST(n_lang_docs AS DECIMAL(38,0))",
        4,
        signed=False,
    )
    return j.select(
        "lang",
        F.col("w").alias("stopword"),
        "n_docs",
        "n_occurrences",
        cov4.alias("doc_coverage"),
    )


def text_ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's DISTINCT
    word n-grams whose first corpus appearance (lowest doc_id) is this
    document — the marginal-information score a crawl-ordered ingest
    uses to cut late near-boilerplate (dedup asks "is this a copy?";
    novelty asks "how much of it is new?").

    Deterministic "earlier" = doc_id order (ingest order in this corpus),
    so the score is a pure function of the data, not of partitioning.

    Scale shape: docs explode to distinct shingles once (the shared
    `shingles` device), a (gram) hash agg computes min(doc_id) — the
    gram table is vocabulary-Zipf-bounded, never |docs|² — and one
    equi-join back on the gram key scores each doc. Ratio is the
    unsigned integer device at 4 dp; docs with < n tokens have no grams
    and surface novelty = null with n_grams = 0.
    """
    from kdb_spark.llm.dedup import _doc_shingles

    sh = _doc_shingles(documents, n).select(
        "doc_id", F.explode("sh").alias("g")
    )
    first_seen = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    scored = (
        sh.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    # docs with no grams (< n tokens) never reach the join; restore them
    base = documents.select("doc_id")
    nov4 = iround_col(
        "10000 * CAST(n_novel AS DECIMAL(38,0))",
        "10000 * CAST(n_grams AS DECIMAL(38,0))",
        4,
        signed=False,
    )
    return (
        base.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.when(F.col("n_grams") > 0, nov4).alias("novelty"),
        )
    )


def text_length_outliers(documents: DataFrame, thresh_tenths: int = 35) -> DataFrame:
    """Per-source robust document-length outlier census: how many docs in
    each source sit more than ``thresh_tenths``/10 MADs from the source's
    median character length — truncated or concatenated crawl records
    surface here before any token-level filter sees them (the
    agg_robust_zscore rule at the documents-per-source grain).

    EXACT: order-statistic median and MAD in integer chars (the rank
    device), all-integer flag, unsigned device rate. Two per-source sorts
    plus a broadcast of the ≤|sources| medians.
    """
    from pyspark.sql import Window

    from kdb_spark.analytics.exact import iround_col

    t = documents.select(
        "source", "doc_id", F.length("text").cast("long").alias("x")
    )
    wo = Window.partitionBy("source").orderBy("x", "doc_id")
    wp = Window.partitionBy("source")
    r = t.select(
        "source", "x", "doc_id",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    med = r.filter(F.col("rn") == F.expr("(50 * n + 99) div 100")).select(
        "source", F.col("x").cast("long").alias("med_chars")
    )
    d = r.join(F.broadcast(med), "source").select(
        "source", "doc_id", F.abs(F.col("x") - F.col("med_chars")).alias("dev"),
        "med_chars",
    )
    wd = Window.partitionBy("source").orderBy("dev", "doc_id")
    dd = d.select(
        "source", "dev", "med_chars",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    mad = dd.filter(F.col("rn") == F.expr("(50 * n + 99) div 100")).select(
        "source", F.col("dev").cast("long").alias("mad_chars")
    )
    g = dd.join(F.broadcast(mad), "source").groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max("med_chars").cast("long").alias("med_chars"),
        F.max("mad_chars").cast("long").alias("mad_chars"),
        F.sum(
            F.when(
                F.lit(10) * F.col("dev") > F.lit(thresh_tenths) * F.col("mad_chars"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )
    rate6 = iround_col(
        "CAST(n_outliers AS DECIMAL(38,0))", "CAST(n_docs AS DECIMAL(38,0))", 6,
        signed=False,
    )
    return g.select(
        "source", "n_docs", "med_chars", "mad_chars", "n_outliers",
        rate6.alias("outlier_rate"),
    )


def text_zipf_fit(documents: DataFrame, top_r: int = 100) -> DataFrame:
    """Zipf's-law fit per source: OLS slope/intercept of ln(freq) on
    ln(rank) over the top ``top_r`` token ranks — the rank-frequency
    power law every natural-language corpus obeys (slope ≈ −1). The
    corpus-health read: a source whose slope collapses toward 0 is
    template/boilerplate-heavy (flat frequencies), one that steepens
    far past −1 is low-diversity spam — the distributional companion of
    `text_hapax_ratio`/`text_yule_k`, at SOURCE grain for mixture
    decisions.

    Determinism: ranks tie-break (freq DESC, token ASC); each ln() is a
    libm log of an exact integer (the entropy/PSI precedent — both
    engines agree bitwise on integer inputs), and all four OLS sums
    fold over the rank-sorted array — the same IEEE chain cross-engine.
    slope/intercept surface through the floor device at 6 dp; sources
    with < 3 ranks emit NULL fit.

    Scale shape: one token explode → (source, token) hash agg
    (Zipf-bounded), one per-source top-R rank window over DISTINCT
    tokens (the topk_per_group posture — |distinct tokens| per source,
    never the token stream), then |sources|·R-element array folds.
    """
    from pyspark.sql import Window

    tf = (
        documents.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    ranked = tf.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_r
    )
    arr = ranked.groupBy("source").agg(
        F.array_sort(F.collect_list(F.struct("rank", "c"))).alias("rc"),
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
    )

    def fold(expr):
        return F.aggregate("rc", F.lit(0.0), lambda acc, r: acc + expr(r))

    ln = F.log  # natural log
    g = arr.select(
        "source",
        "n_ranks",
        fold(lambda r: ln(r["rank"].cast("double"))).alias("sx"),
        fold(lambda r: ln(r["c"].cast("double"))).alias("sy"),
        fold(
            lambda r: ln(r["rank"].cast("double")) * ln(r["c"].cast("double"))
        ).alias("sxy"),
        fold(
            lambda r: ln(r["rank"].cast("double")) * ln(r["rank"].cast("double"))
        ).alias("sxx"),
    )
    rn = F.col("n_ranks").cast("double")
    den = rn * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (rn * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    intercept = (F.col("sy") - slope * F.col("sx")) / rn
    f6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ok = (F.col("n_ranks") >= 3) & (den > 0)
    return g.select(
        "source",
        "n_ranks",
        F.when(ok, f6(slope)).alias("zipf_slope"),
        F.when(ok, f6(intercept)).alias("zipf_intercept"),
    )


def quality_unigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    add-one-smoothed token distribution — the classic cheap perplexity
    proxy quality filters rank on (a doc whose tokens are corpus-typical
    scores low; gibberish/OOV-dense docs score high): the model-free
    stand-in for a KenLM pass in the Gopher/CCNet-style pipelines the
    other quality_* keys mirror.

    xent(d) = −(1/n_d) · Σ_t c_{d,t} · ln((c_t + 1)/(N + V))   [nats]

    Determinism: every ln input is an exact integer-valued double
    (corpus count + 1, and N + V), so libm agrees cross-engine (the
    entropy/PSI precedent); each per-(doc, token) term is ONE double
    c_{d,t}·(ln(c_t+1) − ln(N+V)), and the per-doc sum folds over the
    TOKEN-SORTED array — same IEEE chain both engines. Surfaced via the
    floor device at 6 dp. Empty docs emit NULL.

    Scale shape: one token explode → per-(doc, token) counts (hash agg,
    map-side combine), corpus counts joined ON TOKEN (Zipf-bounded
    dimension — never the token stream), the (N, V) scalars broadcast
    via a 1-row cross join. No sort wider than per-doc arrays.
    """
    dt = (
        documents.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cdt"))
    )
    corpus = dt.groupBy("tok").agg(F.sum("cdt").cast("long").alias("ct"))
    nv = corpus.agg(
        F.sum("ct").cast("long").alias("n_corpus"),
        F.count(F.lit(1)).cast("long").alias("v_vocab"),
    )
    term = (
        dt.join(corpus, "tok")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            "cdt",
            "tok",
            (
                F.col("cdt").cast("double")
                * (
                    F.log((F.col("ct") + 1).cast("double"))
                    - F.log((F.col("n_corpus") + F.col("v_vocab")).cast("double"))
                )
            ).alias("t"),
        )
    )
    g = term.groupBy("doc_id").agg(
        F.sum("cdt").cast("long").alias("n_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("tok", "t"))),
            F.lit(0.0),
            lambda acc, r: acc + r["t"],
        ).alias("s"),
    )
    f6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    xent = -F.col("s") / F.col("n_tokens").cast("double")
    out = g.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") > 0, f6(xent)).alias("xent_nats"),
    )
    # empty/no-token docs still get a row (NULL xent) — quality filters
    # must SEE them, not silently drop them
    all_docs = documents.select("doc_id")
    return all_docs.join(out, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        "xent_nats",
    )
