"""Text-analysis operators (training-data-pipeline extensions).

Language ID, quality scoring, token counting, fingerprinting — all pure
Catalyst column expressions over the ``documents`` table (no Python in
the hot path; at 100 TB these run inside whole-stage codegen alongside
the scan). Ratios are emitted as exact integer pairs or floor-scaled
ints where an oracle must hash-match (cross-engine double rounding of
halfway values is not trustworthy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..checkpoint import materialize

# Measured-best strategy for the EXPLODED token frames (one string
# column, corpus-sized): the columnar string cache build is what made
# dedup_ngram_prefix 2.5× slower under the r7 cache default, and the
# same shape rides here (VERDICT r7 #2).
TOKENS_PREFER = "local"

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deterministic and mirrored verbatim in the DuckDB oracle SQL.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
}

TOKEN_RE = "[a-z0-9]+"


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens, empty strings dropped — split on
    \\s+ emits a phantom "" for leading/trailing whitespace and for
    empty text, which would inflate every downstream token count and
    even rank as a tf-idf term. (token_counts' ws_tokens deliberately
    keeps the raw split semantics.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"),
                    lambda t: t != F.lit(""))


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    """Count (with multiplicity) of tokens in a word list."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language ID with a deterministic argmax order
    (en > es > fr on ties; 'und' when no stopword hits at all).

    Tokens and hit counts are bound to real columns between projections
    — higher-order filter() is interpreted, so inlined expressions
    would re-tokenize once per reference (see operators/dedup.shingles).
    """
    bound = df.select(F.col(id_col),
                      tokens(text_col).alias("__w"))
    t = F.col("__w")
    hits = bound.select(
        F.col(id_col),
        _hits(t, LANG_STOPWORDS["en"]).cast("long").alias("en_hits"),
        _hits(t, LANG_STOPWORDS["es"]).cast("long").alias("es_hits"),
        _hits(t, LANG_STOPWORDS["fr"]).cast("long").alias("fr_hits"))
    en, es, fr = F.col("en_hits"), F.col("es_hits"), F.col("fr_hits")
    pred = (F.when((en == 0) & (es == 0) & (fr == 0), F.lit("und"))
             .when((en >= es) & (en >= fr), F.lit("en"))
             .when(es >= fr, F.lit("es"))
             .otherwise(F.lit("fr")))
    return hits.select(F.col(id_col), en, es, fr, pred.alias("lang_pred"))


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features: length, token count, mean token
    length (floor-scaled ×10000 → exact long), stopword hits, and a
    0-100 integer score. All-integer outputs → bit-exact vs any oracle.
    """
    bound = df.select(F.col(id_col), F.col(text_col),
                      tokens(text_col).alias("__w"))
    df, t = bound, F.col("__w")
    n_chars = F.length(text_col)
    n_tokens = F.size(t)
    sum_tok_len = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    # guard: empty text → 0 tokens; ANSI mode errors on x/0
    mean_tok_len_e4 = F.when(
        n_tokens > 0,
        F.floor(sum_tok_len * 10000 / n_tokens)).cast("long")
    stop_hits = _hits(t, LANG_STOPWORDS["en"])
    # score: reward 20..2000 chars, mean token length 3..12, stopwords>0
    score = (
        F.when((n_chars >= 20) & (n_chars <= 2000), F.lit(40)).otherwise(F.lit(0))
        + F.when((mean_tok_len_e4 >= 30000) & (mean_tok_len_e4 <= 120000),
                 F.lit(40)).otherwise(F.lit(0))
        + F.when(stop_hits > 0, F.lit(20)).otherwise(F.lit(0))
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_obs"),
        n_tokens.cast("long").alias("n_tokens"),
        mean_tok_len_e4.alias("mean_tok_len_e4"),
        stop_hits.cast("long").alias("stop_hits"),
        score.cast("long").alias("quality"))


def doc_features(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Quality score + language ID from ONE tokenize pass — the fused
    projection for pipelines that gate on both (tokenizing the corpus
    once instead of once per feature family; see
    plans/queries.q_training_corpus_curation). Same formulas as
    quality_score + lang_id; output carries all quality columns plus
    lang_pred (per-language hit counts stay on lang_id)."""
    bound = df.select(F.col(id_col), F.col(text_col),
                      tokens(text_col).alias("__w"))
    t = F.col("__w")
    n_chars = F.length(text_col)
    n_tokens = F.size(t)
    sum_tok_len = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    # guard: empty text → 0 tokens; ANSI mode errors on x/0
    mean_tok_len_e4 = F.when(
        n_tokens > 0,
        F.floor(sum_tok_len * 10000 / n_tokens)).cast("long")
    en = _hits(t, LANG_STOPWORDS["en"]).cast("long")
    es = _hits(t, LANG_STOPWORDS["es"]).cast("long")
    fr = _hits(t, LANG_STOPWORDS["fr"]).cast("long")
    hits = bound.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_obs"),
        n_tokens.cast("long").alias("n_tokens"),
        mean_tok_len_e4.alias("mean_tok_len_e4"),
        en.alias("en_hits"), es.alias("es_hits"), fr.alias("fr_hits"))
    score = (
        F.when((F.col("n_chars_obs") >= 20)
               & (F.col("n_chars_obs") <= 2000), F.lit(40)).otherwise(F.lit(0))
        + F.when((F.col("mean_tok_len_e4") >= 30000)
                 & (F.col("mean_tok_len_e4") <= 120000),
                 F.lit(40)).otherwise(F.lit(0))
        + F.when(F.col("en_hits") > 0, F.lit(20)).otherwise(F.lit(0)))
    enh, esh, frh = F.col("en_hits"), F.col("es_hits"), F.col("fr_hits")
    pred = (F.when((enh == 0) & (esh == 0) & (frh == 0), F.lit("und"))
             .when((enh >= esh) & (enh >= frh), F.lit("en"))
             .when(esh >= frh, F.lit("es"))
             .otherwise(F.lit("fr")))
    return hits.select(
        F.col(id_col), "n_chars_obs", "n_tokens", "mean_tok_len_e4",
        F.col("en_hits").alias("stop_hits"),
        score.cast("long").alias("quality"),
        pred.alias("lang_pred"))


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + regex word count (BPE-ish pre-token
    proxy) per document."""
    c = F.lower(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(F.split(c, r"\s+")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)).cast("long")
         .alias("re_tokens"))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-k terms per document by tf·idf (idf = ln(N/df), raw tf).

    Two hash-aggs ((doc, term) tf, then term df) + a broadcast of the
    tiny (term, df) table back onto the tf rows + one per-doc rank
    window. N comes from a scalar-subquery-style cross join of a 1-row
    aggregate (broadcast, free). Scores floor-scaled ×1e6 to longs with
    (score, term) tiebreak — cross-engine deterministic.

    At 100 TB the only wide exchange is the (doc, term) aggregation;
    term→df is orders of magnitude smaller (vocabulary-sized) and stays
    broadcast."""
    # toks feeds BOTH aggregations — EAGER localCheckpoint, or the
    # tokenize+explode of the whole corpus runs twice (lazy persist
    # loses the race between concurrent branches of one job)
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("term")).transform(
        materialize, "text_tokens", prefer=TOKENS_PREFER)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    docfreq = (toks.groupBy("term")
                   .agg(F.count_distinct(F.col(id_col)).alias("df_docs")))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(F.broadcast(docfreq), "term")
                .crossJoin(F.broadcast(n_docs))
                .select(
                    F.col(id_col), F.col("term"),
                    F.floor(F.col("tf")
                            * F.log(F.col("n_docs") / F.col("df_docs"))
                            * 1e6).cast("long").alias("tfidf_e6")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_e6").desc(), F.col("term").asc())
    return (scored.withColumn("rnk", F.row_number().over(w).cast("long"))
                  .where(F.col("rnk") <= k))


WINNOW_B = 131                 # rolling-hash base
WINNOW_M = (1 << 31) - 1       # modulus — keeps t*B + t inside BIGINT


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        k: int = 3, w: int = 4) -> DataFrame:
    """MOSS-style winnowing fingerprints via a polynomial rolling hash:
    token k-gram hashes g_i = Σ th_{i+j}·B^{k-1-j} mod M, then the min
    of every w-gram window, deduplicated — the standard
    plagiarism/near-copy signature guaranteeing any shared run of
    ≥ w+k-1 tokens yields a shared fingerprint.

    Entirely array-native per document (transform/slice/array_min) —
    the only rows shuffled downstream are the selected fingerprints
    (~n/w per doc), never the grams. Docs shorter than k tokens hash
    whole; gram runs shorter than w winnow to a single min.
    """
    if k != 3:
        raise ValueError("rolling hash is unrolled for k=3")
    B, M = F.lit(WINNOW_B), F.lit(WINNOW_M)
    from ..functions.scalar import stable_hash64
    bound = df.select(
        F.col(id_col),
        F.transform(tokens(text_col),
                    lambda t: stable_hash64(t) % M).alias("__th"))
    th = F.col("__th")
    n = F.size(th)
    poly3 = lambda i: ((F.element_at(th, i) * B + F.element_at(th, i + 1))
                       % M * B + F.element_at(th, i + 2)) % M
    whole = F.aggregate(th, F.lit(0).cast("long"),
                        lambda acc, x: (acc * B + x) % M)
    grams = F.when(n >= k,
                   F.transform(F.sequence(F.lit(1), n - (k - 1)), poly3)) \
             .otherwise(F.array(whole))
    g = F.col("__g")
    bound = bound.select(F.col(id_col), grams.alias("__g"))
    m = F.size(g)
    wins = F.when(m >= w,
                  F.transform(F.sequence(F.lit(1), m - (w - 1)),
                              lambda p: F.array_min(F.slice(g, p, w)))) \
            .otherwise(F.array(F.array_min(g)))
    return bound.select(F.col(id_col),
                        F.explode(F.array_distinct(wins)).alias("fp"))


def make_sentence_udtf():
    """Python UDTF (Spark 4, Arrow-optimized): split text into trimmed
    sentences with post-filter ordinals — the one generator shape the
    built-in explode family can't express when the row logic is Python
    (§2.8 UDTF surface). Plans as ArrowEvalPythonUDTF (batched), not a
    row-at-a-time BatchEvalPython node. Built lazily (a decorator at
    import time would need an active Spark context)."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_no int, sentence string", useArrow=True)
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            parts = (p.strip(" \t\n\r")
                     for p in re.split(r"[.!?]+", text))
            for i, p in enumerate(p for p in parts if p):
                yield i, p

    return SplitSentences


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """LM-perplexity proxy for corpus curation (the CCNet-style quality
    signal, with the corpus's own unigram distribution standing in for
    a trained LM): score each document by the mean unigram
    log-probability of its tokens — gibberish/rare-token documents
    score far more negative than fluent text. Floor-scaled to e6 longs
    for cross-engine hashing; token-less documents score (0, 0).

    Two hash-aggs ((doc,term) explode → vocab tf, then per-doc avg) +
    a broadcast of the vocabulary-sized (term, tf) table — the same
    100 TB shape as tfidf_top_terms: the only wide exchange carries
    token rows, the model side stays broadcast."""
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("term")).transform(
        materialize, "text_tokens", prefer=TOKENS_PREFER)
    vocab = toks.groupBy("term").agg(F.count("*").alias("__tf"))
    tot = vocab.agg(F.sum("__tf").alias("__total"))
    scored = (toks.join(F.broadcast(vocab), "term")
                  .crossJoin(F.broadcast(tot))
                  .groupBy(id_col)
                  .agg(F.count("*").alias("n_tokens"),
                       F.floor(F.avg(F.log(F.col("__tf")
                                           / F.col("__total"))) * 1e6)
                        .cast("long").alias("logprob_e6")))
    return (df.select(F.col(id_col))
              .join(scored, id_col, "left")
              .select(F.col(id_col),
                      F.coalesce("n_tokens", F.lit(0)).cast("long")
                       .alias("n_tokens"),
                      F.coalesce("logprob_e6", F.lit(0)).cast("long")
                       .alias("logprob_e6")))


# PII scrub rules: (name, pattern, replacement), applied in order.
# Patterns deliberately avoid lookaround/backreferences so Spark (Java
# regex) and DuckDB (RE2) match identically; replacements contain no
# '$' / '\' metacharacters for the same reason. The phone class has no
# '.' so IPv4/decimal strings never half-match as phones.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ()]{6,}\d", "<PHONE>"),
)

URL_RE = r"https?://[^\s]+"


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """PII redaction for training-corpus curation: emails, SSN-shaped
    ids, IPv4 addresses, and phone-number-shaped digit runs are
    replaced by typed placeholder tokens; per-category match counts are
    emitted alongside (counted on the ORIGINAL text, so categories
    whose patterns overlap — ssn/phone — report independently).

    Pure Catalyst regexp_replace/regexp_extract_all chains — runs
    inside whole-stage codegen next to the scan; no Python, no UDF.
    Heuristic by design (a '2024-01-01 00' date-time fragment scrubs as
    a phone-shaped run): web-scale scrubbers over-redact rather than
    leak, and every rule is deterministic and oracle-mirrored."""
    scrubbed = F.col(text_col)
    for _, pat, rep in PII_RULES:
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
         .cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_RULES]
    return df.select(F.col(id_col), scrubbed.alias("scrubbed"), *counts)


def extract_urls(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """URL extraction (one row per URL occurrence, 0-based ordinal) —
    the link-harvest step of a crawl-curation pipeline. posexplode of
    regexp_extract_all: generator-style 1→N expansion, docs with no
    URLs drop out (matching SQL unnest semantics)."""
    bound = df.select(
        F.col(id_col),
        F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
         .alias("__u"))
    return bound.select(
        F.col(id_col), F.posexplode("__u").alias("url_no", "url"))


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Normalized document fingerprint: lowercase → tokenize → sort →
    md5. Token-order-insensitive, so shuffled near-copies collide —
    the cheap first pass before MinHash (operators/dedup.py)."""
    norm = F.concat_ws(" ", F.array_sort(tokens(text_col)))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array — i.e.
    the multiplicity of the most frequent element — via one
    ``aggregate`` fold (O(n) after the O(n log n) sort, all inside
    whole-stage codegen).  0 for an empty array."""
    zero = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))

    def step(acc: Column, x: Column) -> Column:
        run = (F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1)
                .otherwise(F.lit(1)))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): fraction of the document taken up by the
    most frequent unigram / bigram, and the fraction of trigram
    occurrences that are duplicates.  High values mark boilerplate and
    degenerate repetition for corpus filtering.

    Scale design: the naive plan explodes every n-gram and
    groupBy(doc, gram)-counts — multiplying the corpus rows by token
    count and shuffling all of it.  Here each document's signals are
    computed INSIDE its own row: build gram arrays with
    ``zip_with``/``slice``, sort, and take the max equal-run via one
    ``aggregate`` fold — a pure map-side projection, ZERO shuffles at
    any corpus size (verified by a no-Exchange plan test).

    Ratios are floor-scaled e6 longs; documents too short for a gram
    family emit NULL (mirrored in the oracle).
    """
    t = tokens(text_col)
    bound = df.select(F.col(id_col), t.alias("__w"),
                      F.size(t).alias("__n"))
    n = F.col("__n")
    w = F.col("__w")
    bg = F.when(n >= 2, F.zip_with(
        F.slice(w, 1, n - 1), F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    ).otherwise(F.array().cast("array<string>"))
    bound = bound.withColumn("__bg", bg)
    tg = F.when(n >= 3, F.zip_with(
        F.slice(F.col("__bg"), 1, n - 2), F.slice(w, 3, n - 2),
        lambda a, b: F.concat_ws(" ", a, b))
    ).otherwise(F.array().cast("array<string>"))
    bound = bound.withColumn("__tg", tg)

    def frac_e6(num: Column, den: Column) -> Column:
        return (F.when(den > 0, F.floor(num * F.lit(1e6) / den))
                 .cast("long"))

    n_bg, n_tg = F.size("__bg"), F.size("__tg")
    return bound.select(
        F.col(id_col),
        n.alias("n_tokens"),
        frac_e6(_max_run(F.array_sort(w)), n).alias("top_unigram_e6"),
        frac_e6(_max_run(F.array_sort("__bg")), n_bg)
            .alias("top_bigram_e6"),
        frac_e6(n_tg - F.size(F.array_distinct("__tg")), n_tg)
            .alias("dup_trigram_e6"))


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 top-k retrieval for a fixed bag of query terms (Robertson &
    Zaragoza 2009; the Lucene variant with the +1-smoothed idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))``, always ≥ 0).

    Spark shape: per-term tf is ``size(filter(tokens, = t))`` — a pure
    map-side projection, NO token explode and NO (doc, term) shuffle.
    Corpus statistics (N, total dl, one df per query term) collapse to
    a SINGLE 1-row conditional aggregate that is broadcast back, so
    the whole query is: one tiny stats agg + one map-side score
    projection + TakeOrdered(k). The per-term score sum is written as
    a FIXED-ORDER column chain (score_t0 + score_t1 + …), not an
    aggregate over term rows — double addition is order-sensitive and
    an agg's merge order is partition-dependent; the chain is
    bit-identical on every engine.

    At 100 TB: stats agg is one shuffle of |terms|+2 longs per
    partition; scoring touches each doc once map-side; top-k is
    TakeOrderedAndProject (no global sort materialization).
    """
    toks = tokens(text_col)
    bound = df.select(F.col(id_col), toks.alias("__w"))
    dl = F.size("__w")
    def _tf(term: str) -> Column:
        # NB: F.filter treats a 2-arg lambda as (element, index) — a
        # default-arg closure here would bind the index, not the term
        return F.size(F.filter(F.col("__w"), lambda t: t == F.lit(term)))

    per_term_tf = [_tf(term).alias(f"tf_{i}")
                   for i, term in enumerate(query_terms)]
    scored0 = bound.select(F.col(id_col), dl.alias("dl"), *per_term_tf)
    stats = scored0.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(query_terms))])
    j = scored0.crossJoin(F.broadcast(stats))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    norm = F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / avgdl)
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col(f"df_{i}")
                                  + F.lit(0.5))
                    / (F.col(f"df_{i}") + F.lit(0.5)))
        tf = F.col(f"tf_{i}").cast("double")
        score = score + idf * tf * F.lit(k1 + 1.0) / (tf + norm)
    out = j.select(
        F.col(id_col),
        (F.col("dl")).cast("long").alias("dl"),
        F.floor(score * F.lit(1_000_000)).cast("long").alias("score_e6"))
    return (out.where(F.col("score_e6") > 0)
               .orderBy(F.desc("score_e6"), F.col(id_col))
               .limit(k))


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity (inverted-index pair generation)
# ---------------------------------------------------------------------------

def tfidf_sparse_pairs(df: DataFrame, min_sim_e6: int = 700_000,
                       max_df: int | None = None,
                       max_df_pct: int | None = None,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """All-pairs sparse TF-IDF cosine similarity ≥ threshold — the
    classic inverted-index band of the similarity ladder (dense ANN:
    operators/similarity.py; set-based: dedup.py n-gram Jaccard).

    Exactness: idf is floor-quantized to e3 BIGINT; per-(doc, term)
    weight = tf · idf_e3 (exact BIGINT, |w| < 2^21 at idf ≤ ~15e3 and
    web-scale tf); dots and squared norms are BIGINT sums of products
    (< 2^45 per term pair, exact far beyond any real corpus), so the
    only FP ops are one sqrt and one division per surviving pair —
    identical IEEE ops on identical integers in every engine.

    Scale: the pair space is generated from the inverted index (join
    on term hash), which is O(Σ_t df_t²) — the same hot-shingle
    quadratic as n-gram Jaccard, bounded the same way: ``max_df``
    (absolute) or ``max_df_pct`` (percent of the corpus — the form
    that stays meaningful as the corpus grows) drops terms more
    frequent than the cap (stop-term pruning; norms are computed
    post-cap so cosine stays ≤ 1 and self-consistent). UNCAPPED, a
    single corpus-wide term makes the index self-join O(n²) — always
    set one of the caps on real corpora. The percent comparison is
    integer cross-multiplication (df·100 ≤ pct·n), exact everywhere.
    Term join keys are 60-bit hashes (8-byte shuffle keys, not
    strings).
    """
    from ..functions.scalar import stable_hash64
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("term"))
    # tf feeds the df agg AND the weighted join; weighted feeds norms
    # and BOTH inverted-index sides — left lazy the tokenize + hash +
    # (doc, term) agg subtree re-ran up to 6× (16 parquet scans of the
    # corpus in plans/r10/tfidf_cosine_pairs_before.txt). Staged, the
    # corpus is scanned once (r10 optimization pass; paired A/B at
    # sf0.1 local[32], reps=5: median 2.70 s → 2.15 s, min 2.02 →
    # 1.96 — and at 100 TB five redundant corpus passes is the
    # difference that actually matters). Narrow all-long rows: the
    # default cache strategy applies (the string-frame local-prefer
    # rule is about columnar string compression, not these).
    tf = (toks.select(F.col(id_col),
                      stable_hash64(F.col("term"), seed=11).alias("t"))
          .groupBy(id_col, "t").agg(F.count("*").alias("tf")))
    tf = materialize(tf, "tfidf_tf")
    n = df.agg(F.count("*").alias("n_docs"))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= max_df)
    if max_df_pct is not None:
        dfreq = (dfreq.crossJoin(F.broadcast(n))
                 .where(F.col("df") * 100
                        <= F.lit(int(max_df_pct)) * F.col("n_docs"))
                 .drop("n_docs"))
    idf_e3 = F.floor(
        F.log(F.col("n_docs").cast("double") / F.col("df"))
        * F.lit(1000)).cast("long")
    weighted = (tf.join(dfreq, "t").crossJoin(F.broadcast(n))
                .select(F.col(id_col), "t",
                        (F.col("tf") * idf_e3).alias("w")))
    weighted = materialize(weighted, "tfidf_weighted")
    norms = weighted.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).alias("sq"))
    a = weighted.select(F.col(id_col).alias("doc_a"), "t",
                        F.col("w").alias("wa"))
    b = weighted.select(F.col(id_col).alias("doc_b"), "t",
                        F.col("w").alias("wb"))
    dots = (a.join(b, "t")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot")))
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("sq").alias("sa"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("sq").alias("sb"))
    sim = F.floor(F.col("dot").cast("double")
                  / (F.sqrt(F.col("sa").cast("double"))
                     * F.sqrt(F.col("sb").cast("double")))
                  * F.lit(1_000_000)).cast("long")
    return (dots.join(na, "doc_a").join(nb, "doc_b")
            .select("doc_a", "doc_b", sim.alias("sim_e6"))
            .where(F.col("sim_e6") >= min_sim_e6))


def token_entropy(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Shannon entropy of each document's token distribution (bits,
    floor-scaled e6) — the information-density quality signal (low
    entropy ⇒ repetitive/templated text; pairs with the Gopher
    repetition filters).

    Zero-shuffle: term counts come from array ops on the sorted token
    array (run-length via sorted positions), not a (doc, term)
    explode+agg. The entropy sum folds over DISTINCT TERMS IN SORTED
    ORDER via ``F.aggregate`` — a sequential fold, so the double
    accumulation order is fixed and engine-independent (an agg-based
    Σ p·log p would be partial-merge-order dependent and
    nondeterministic under repartitioning).
    """
    bound = df.select(F.col(id_col),
                      F.array_sort(tokens(text_col)).alias("__s"))
    s, n = F.col("__s"), F.size("__s")
    # counts per distinct token: distance between successive first-
    # occurrence positions in the sorted array
    # F.get is 0-based and NULL (not an ANSI error) out of bounds, so
    # the i=1 position compares against NULL and the null-safe <=>
    # marks it a first occurrence. NB sequence(1, 0) DESCENDS, so the
    # empty-doc case must short-circuit before element_at ever runs.
    firsts = F.when(n > 0, F.filter(
        F.sequence(F.lit(1), n),
        lambda i: ~F.element_at(s, i).eqNullSafe(F.get(s, i - 2)))
    ).otherwise(F.array().cast("array<int>"))
    counts = F.when(n > 0, F.zip_with(
        firsts,
        F.concat(F.slice(firsts, 2, F.greatest(F.size(firsts) - 1,
                                               F.lit(0))),
                 F.array(n + 1)),
        lambda a, b: b - a)).otherwise(F.array().cast("array<int>"))
    nd = n.cast("double")
    ent = F.aggregate(
        counts, F.lit(0.0),
        lambda acc, c: acc - (c.cast("double") / nd)
        * F.log2(c.cast("double") / nd))
    out = F.when(n > 0, F.floor(ent * F.lit(1_000_000))).otherwise(
        F.lit(0)).cast("long")
    return bound.select(
        F.col(id_col), n.cast("long").alias("n_tokens"),
        F.size(firsts).cast("long").alias("n_distinct"),
        out.alias("entropy_e6"))


# Gopher quality-rule thresholds (Rae et al. 2021, arXiv:2112.11446
# table A1, adapted to the fixture corpus's scale). Each ratio rule is
# cross-multiplied into integer form so no FP division ever happens —
# the flags are bit-identical on any engine and any partitioning.
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL_X10 = 30    # mean word length >= 3.0
GOPHER_MAX_MWL_X10 = 100   # mean word length <= 10.0
GOPHER_MIN_ALPHA_PCT = 80  # >= 80% of words contain an alphabetic char
GOPHER_MIN_STOP_HITS = 2   # >= 2 English stopword occurrences


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Gopher-style document quality rules (the composite rule filter
    every web-scale curation pipeline runs before model-based scoring;
    reference analytics serve per-entity quality gates the same way —
    show/page.py KOL threshold filters).

    Emits the raw counters plus one 0/1 flag per rule and the overall
    ``passes`` conjunction, so downstream can either hard-filter or
    audit rule attrition. Every rule is an integer comparison:

    - word count in [GOPHER_MIN_WORDS, GOPHER_MAX_WORDS]
    - mean word length in [3.0, 10.0]  -> 10*chars vs bound*words
    - alpha-word fraction >= 80%       -> 100*n_alpha >= 80*n_words
    - English stopword hits >= 2

    Zero shuffles: one projection over the scan, fully inside
    whole-stage codegen (tokens bound once to a real column — the
    interpreted-HOF re-tokenization trap documented in doc_features).
    """
    bound = df.select(F.col(id_col),
                      tokens(text_col).alias("__w"))
    t = F.col("__w")
    n_words = F.size(t)
    tot_chars = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
    stop_hits = _hits(t, LANG_STOPWORDS["en"])
    counted = bound.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        tot_chars.cast("long").alias("tot_chars"),
        n_alpha.cast("long").alias("n_alpha"),
        stop_hits.cast("long").alias("stop_hits"))
    w, c, a, s = (F.col("n_words"), F.col("tot_chars"),
                  F.col("n_alpha"), F.col("stop_hits"))
    r_words = ((w >= GOPHER_MIN_WORDS) & (w <= GOPHER_MAX_WORDS))
    r_mwl = ((c * 10 >= GOPHER_MIN_MWL_X10 * w)
             & (c * 10 <= GOPHER_MAX_MWL_X10 * w) & (w > 0))
    r_alpha = (a * 100 >= GOPHER_MIN_ALPHA_PCT * w) & (w > 0)
    r_stop = s >= GOPHER_MIN_STOP_HITS
    return counted.select(
        id_col, "n_words", "tot_chars", "n_alpha", "stop_hits",
        r_words.cast("long").alias("r_word_count"),
        r_mwl.cast("long").alias("r_mean_word_len"),
        r_alpha.cast("long").alias("r_alpha_frac"),
        r_stop.cast("long").alias("r_stopwords"),
        (r_words & r_mwl & r_alpha & r_stop).cast("long").alias("passes"))


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Interpolated bigram LM document score — the next-order LM
    quality signal above :func:`unigram_logprob` (the CCNet-style
    proxy, with the corpus's own counts standing in for a trained LM):
    mean over adjacent token pairs of
    ``ln(0.7·c2(w1,w2)/c1(w1) + 0.3·c1(w2)/N)``.

    Determinism: the per-pair probability is a fixed-shape expression
    (two products, two divisions, one add — both engines evaluate the
    identical IEEE op sequence); the per-doc mean folds the pair
    log-probs IN POSITION ORDER via a sequential ``F.aggregate`` (the
    token_entropy pattern) — an agg-side sum would be
    partial-merge-order dependent.

    Scale shape: the bigram count table is corpus-derived and can be
    vocabulary² in the worst case, so the pair↔count join is an
    ordinary shuffle join (NOT broadcast — the one model table that
    can outgrow memory); the unigram table and total stay broadcast,
    as in tfidf/unigram. Docs with < 2 tokens score (0, 0)."""
    t = df.select(F.col(id_col),
                  tokens(text_col).alias("__t"))
    n = F.size("__t")
    m = F.greatest(n - 1, F.lit(0))
    prs = F.zip_with(F.slice("__t", 1, m), F.slice("__t", 2, m),
                     lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    pairs = (t.select(F.col(id_col), F.posexplode(prs).alias("pos", "pr"))
              .select(F.col(id_col), "pos",
                      F.col("pr.w1").alias("w1"),
                      F.col("pr.w2").alias("w2")))
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    toks = t.select(F.explode("__t").alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("c1"))
    tot = uni.agg(F.sum("c1").alias("nn"))
    u1 = uni.select(F.col("term").alias("w1"), F.col("c1").alias("c1a"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c1").alias("c1b"))
    lp = F.log(
        (F.lit(0.7) * F.col("c2").cast("double")) / F.col("c1a")
        + (F.lit(0.3) * F.col("c1b").cast("double")) / F.col("nn"))
    scored = (pairs.join(big, ["w1", "w2"])
                   .join(F.broadcast(u1), "w1")
                   .join(F.broadcast(u2), "w2")
                   .crossJoin(F.broadcast(tot))
                   .select(F.col(id_col), "pos", lp.alias("lp")))
    folded = (scored.groupBy(id_col)
              .agg(F.array_sort(
                  F.collect_list(F.struct("pos", "lp"))).alias("ps")))
    out = folded.select(
        F.col(id_col),
        F.size("ps").cast("long").alias("n_bigrams"),
        F.floor(F.aggregate("ps", F.lit(0.0),
                            lambda acc, s: acc + s.getField("lp"))
                / F.size("ps") * 1e6).cast("long").alias("logprob_e6"))
    return (df.select(F.col(id_col))
              .join(out, id_col, "left")
              .select(F.col(id_col),
                      F.coalesce("n_bigrams", F.lit(0)).cast("long")
                       .alias("n_bigrams"),
                      F.coalesce("logprob_e6", F.lit(0)).cast("long")
                       .alias("logprob_e6")))


# Greedy longest-match subword vocabulary: common English trigram and
# bigram pieces; single characters are the implicit fallback (an
# out-of-vocab "byte" level, so segmentation never fails). A literal
# constant shared verbatim with the oracle — swapping in a trained
# merge table (bpe_top_merges output) changes nothing structural.
SUBWORD_V3: tuple[str, ...] = (
    "the", "ing", "ion", "ent", "ati", "ter", "and", "her",
    "for", "tha", "ere", "con", "res", "ver", "all")
SUBWORD_V2: tuple[str, ...] = (
    "th", "he", "in", "er", "an", "re", "on", "at", "en",
    "nd", "ti", "es", "or", "te", "of", "ed", "is", "it",
    "al", "ar", "st", "to", "nt", "ng", "se", "ha")

_SW_SHIFT = 1 << 32  # fold state: position · 2^32 + piece count


def subword_piece_counts(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Tokenizer-apply cost model: per document, the number of subword
    pieces a greedy longest-match segmentation produces under a fixed
    vocabulary (3-char pieces, then 2-char, then single chars) — the
    sequence-length signal that drives packing/budgeting decisions in
    a training pipeline (WordPiece-style greedy matching, Wu et al.
    2016; vocab here is a fixed literal).

    Greedy matching is inherently sequential PER WORD, which is
    exactly what a sequential fold expresses: the accumulator packs
    (cursor·2^32 + count) into ONE BIGINT so the fold element type
    matches the accumulator type on both engines (DuckDB's
    list_reduce has no separate init type). Word length bounds the
    state below 2^38, so even the double-division path is exact.
    Zero shuffles — nested higher-order functions over the token
    array, inside whole-stage codegen next to the scan."""
    def pieces(wd: Column) -> Column:
        def step(acc: Column, i: Column) -> Column:
            c = F.pmod(acc, F.lit(_SW_SHIFT))
            p = ((acc - c) / F.lit(_SW_SHIFT)).cast("long")
            s3 = F.substring(wd, p.cast("int"), F.lit(3))
            s2 = F.substring(wd, p.cast("int"), F.lit(2))
            adv = (F.when(s3.isin(*SUBWORD_V3), F.lit(3))
                    .when(s2.isin(*SUBWORD_V2), F.lit(2))
                    .otherwise(F.lit(1))).cast("long")
            nxt = (p + adv) * F.lit(_SW_SHIFT) + c + 1
            return F.when(i.cast("long") != p, acc).otherwise(nxt)
        folded = F.aggregate(
            F.sequence(F.lit(1), F.length(wd)),
            F.lit(_SW_SHIFT).cast("long"), step)
        return F.pmod(folded, F.lit(_SW_SHIFT))

    # The fixture scan is one task, and this fold is the engine's
    # heaviest per-row Catalyst projection: round-robin spread it to
    # session parallelism, but ONLY when the scan arrives with fewer
    # partitions (a strict no-op at cluster scale, where a many-file
    # table already has more splits). Measured 1.37x at 32 cores. The
    # probe is safe here because ``df`` is a raw scan: on a frame with
    # an exchange it would eagerly run query stages under AQE.
    n_par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n_par:
        df = df.repartition(n_par)
    t = df.select(F.col(id_col), tokens(text_col).alias("__w"))
    return t.select(
        F.col(id_col),
        F.size("__w").cast("long").alias("n_words"),
        F.aggregate(F.transform(F.col("__w"), pieces),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v).alias("n_pieces"))


HASH_EMB_DIM = 16  # feature-hashing embedding width


def hash_embedding(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   dim: int = HASH_EMB_DIM) -> DataFrame:
    """Feature-hashing document embedding (the hashing trick,
    Weinberger et al. 2009): component j accumulates ±1 for every
    token whose stable hash lands in bucket j, sign drawn from a
    disjoint hash bit. INTEGER vectors — exact at any scale, no model
    weights to ship — the deterministic text→vector step that lets
    the ANN/PQ/LSH stack run on raw documents when no trained encoder
    is available (and the plumbing twin for when one is).

    Zero-shuffle: ``dim`` sequential folds over the token-hash array
    (dim is small; work is dim·n_tokens per doc, map-side, in
    whole-stage codegen). The token-hash array is bound ONCE — the
    md5 per token is the dominant cost and must not be re-evaluated
    per component."""
    from ..functions.scalar import stable_hash64
    if dim & (dim - 1):
        raise ValueError("dim must be a power of two (bit-exact ops)")
    shift = dim.bit_length() - 1
    toks = tokens(text_col)
    # one md5 per token, computed once: h = stable_hash64(token).
    # Bucket/sign come from BIT ops (h & (dim−1), bit `shift`) — h is
    # 60-bit, so any double-division path would round above 2^53 and
    # silently diverge from the oracle's integer division.
    th = F.transform(toks, lambda t: stable_hash64(t))
    bound = df.select(F.col(id_col), th.alias("__th"))
    # closure factory, NOT a `j=j` default arg: Spark reads a lambda's
    # arity from its signature, and the default would make this look
    # like a 3-argument HOF lambda (the F.filter index trap again)
    def _comp(j: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(dim - 1)) == j,
            F.when(F.shiftright(h, shift).bitwiseAND(F.lit(1)) == 0,
                   F.lit(1)).otherwise(F.lit(-1))
        ).otherwise(F.lit(0))

    comp = [F.aggregate(F.col("__th"), F.lit(0).cast("long"), _comp(j))
            for j in range(dim)]
    return bound.select(F.col(id_col), F.array(*comp).alias("emb"))


def nb_lang_classifier(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Multinomial Naive Bayes language classifier, self-trained on the
    stopword heuristic's confident labels (:func:`lang_id` rows whose
    pred ≠ 'und') and applied to EVERY document — the distributed
    train-then-score loop of a corpus-labeling pipeline (weak rules →
    model → full-corpus inference), entirely in DataFrame ops.

    Exactness: the model is QUANTIZED at build time — each (term,
    class) add-1-smoothed log-likelihood ``ln((cnt+1)/(tot_c+V))`` is
    floored to an e6 BIGINT once, so every per-document score is a SUM
    OF INTEGERS (+ the e6 prior): associative, partial-agg-proof, and
    engine-exact. (Summing raw double logs would make the result
    depend on Spark's merge order — the corr()-style trap.)

    Scale shape: token explode (the one token-volume shuffle, shared
    with training), model = vocab-sized table JOINED BROADCAST into the
    scoring pass, corpus stats a 1-row broadcast. OOV tokens take the
    smoothed floor likelihood via coalesce after the left join — no
    second pass. At 100 TB the model is a few MB (vocab × 3 longs);
    inference is one map-side join + one key shuffle per doc.
    """
    # the token explode and the label pass each feed BOTH the training
    # subtree and the scoring subtree — eager localCheckpoint so
    # tokenization/lang-id run once, not twice (same contract as
    # dedup.shingles; at cluster scale swap for a parquet checkpoint)
    labels = lang_id(df, text_col, id_col).select(
        F.col(id_col), F.col("lang_pred")).transform(
        materialize, "nb_lang_pred")
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("term")).transform(
        materialize, "text_tokens", prefer=TOKENS_PREFER)
    train_toks = (toks.join(labels.where(F.col("lang_pred") != "und"),
                            id_col)
                  .select("term", "lang_pred"))
    langs = ("en", "es", "fr")
    counts = train_toks.groupBy("term").agg(
        *[F.sum(F.when(F.col("lang_pred") == c, 1).otherwise(0))
           .cast("long").alias(f"cnt_{c}") for c in langs])
    stats = counts.agg(
        F.count("*").cast("long").alias("vocab"),
        *[F.sum(f"cnt_{c}").cast("long").alias(f"tot_{c}")
          for c in langs])
    doc_priors = (labels.where(F.col("lang_pred") != "und")
                  .groupBy().agg(
                      F.count("*").cast("long").alias("n_train"),
                      *[F.sum(F.when(F.col("lang_pred") == c, 1)
                              .otherwise(0)).cast("long")
                         .alias(f"n_{c}") for c in langs]))

    def _ll_e6(cnt, tot):  # floor(1e6·ln((cnt+1)/(tot+V))) — one ln,
        return F.floor(F.log((cnt + F.lit(1)).cast("double")
                             / (tot + F.col("vocab")))
                       * F.lit(1_000_000)).cast("long")

    model = (counts.crossJoin(F.broadcast(stats))
             .select("term",
                     *[_ll_e6(F.col(f"cnt_{c}"), F.col(f"tot_{c}"))
                        .alias(f"ll_{c}") for c in langs]))
    scored = (toks.join(F.broadcast(model), "term", "left")
              .crossJoin(F.broadcast(stats))
              .select(F.col(id_col),
                      *[F.coalesce(F.col(f"ll_{c}"),
                                   _ll_e6(F.lit(0), F.col(f"tot_{c}")))
                         .alias(f"ll_{c}") for c in langs])
              .groupBy(id_col)
              .agg(*[F.sum(f"ll_{c}").alias(f"s_{c}") for c in langs]))
    prior = F.broadcast(doc_priors.select(
        *[F.floor(F.log((F.col(f"n_{c}") + F.lit(1)).cast("double")
                        / (F.col("n_train") + F.lit(3)))
                  * F.lit(1_000_000)).cast("long").alias(f"p_{c}")
          for c in langs]))
    out = (df.select(F.col(id_col)).join(scored, id_col, "left")
           .crossJoin(prior)
           .select(F.col(id_col),
                   *[(F.coalesce(F.col(f"s_{c}"), F.lit(0))
                      + F.col(f"p_{c}")).cast("long")
                      .alias(f"score_{c}_e6") for c in langs]))
    en, es, fr = (F.col("score_en_e6"), F.col("score_es_e6"),
                  F.col("score_fr_e6"))
    pred = (F.when((en >= es) & (en >= fr), F.lit("en"))
             .when(es >= fr, F.lit("es")).otherwise(F.lit("fr")))
    return out.select(id_col, "score_en_e6", "score_es_e6",
                      "score_fr_e6", pred.alias("nb_pred"))


def pmi_bigrams(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", min_count: int = 3,
                k: int = 30) -> DataFrame:
    """Collocation mining: top-k adjacent-token bigrams by pointwise
    mutual information ``ln(c2·N² / (N2·c1(w1)·c1(w2)))`` — the
    co-occurrence statistic under tokenizer-vocabulary and phrase
    detection (word2vec's phrase pass uses the same score).

    All counts are exact BIGINTs (emitted alongside the score); the
    single ln per surviving bigram runs on an identically-parenthesized
    double tree and floors at e6. Bigrams are built by slicing the
    bound token array (no self-join); the explode is the usual
    token-volume shuffle, unigram counts broadcast back, corpus totals
    a 1-row broadcast, and top-k is TakeOrderedAndProject. min_count
    prunes the hapax tail BEFORE the joins — at web scale that is the
    difference between a vocab²-ish candidate set and a short list.
    """
    bound = df.select(F.col(id_col),
                      tokens(text_col).alias("__w"))
    w = F.col("__w")
    # adjacent pairs w[i], w[i+1] — guarded: sequence(1, 0) would
    # DESCEND in Spark ([1, 0]), not return empty
    grams = F.when(
        F.size(w) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(w) - 1),
                    lambda i: F.struct(
                        F.element_at(w, i).alias("w1"),
                        F.element_at(w, i + 1).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = (bound.select(F.explode(grams).alias("g"))
           .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")))
    uni = (bound.select(F.explode(w).alias("t"))
           .groupBy("t").agg(F.count("*").cast("long").alias("c1")))
    c2 = (big.groupBy("w1", "w2")
          .agg(F.count("*").cast("long").alias("c2"))
          .where(F.col("c2") >= min_count))
    totals = uni.agg(F.sum("c1").cast("long").alias("n1")) \
                .crossJoin(big.groupBy().agg(
                    F.count("*").cast("long").alias("n2")))
    ua = uni.select(F.col("t").alias("w1"), F.col("c1").alias("c1a"))
    ub = uni.select(F.col("t").alias("w2"), F.col("c1").alias("c1b"))
    scored = (c2.join(F.broadcast(ua), "w1").join(F.broadcast(ub), "w2")
              .crossJoin(F.broadcast(totals))
              .select("w1", "w2", "c2", "c1a", "c1b",
                      F.floor(F.log(
                          ((F.col("c2").cast("double") * F.col("n1"))
                           * F.col("n1"))
                          / ((F.col("n2").cast("double") * F.col("c1a"))
                             * F.col("c1b")))
                          * F.lit(1_000_000)).cast("long")
                       .alias("pmi_e6")))
    return (scored.orderBy(F.col("pmi_e6").desc(), "w1", "w2").limit(k))


def vocab_coverage(df: DataFrame, text_col: str = "text",
                   thresholds: tuple[int, ...] = (50, 90, 99)
                   ) -> DataFrame:
    """Tokenizer-sizing curve: the smallest frequency-ranked
    vocabulary that covers X% of all token occurrences, for each
    threshold — the statistic that decides a vocab size before
    training a tokenizer.

    Exact integers end-to-end: term counts, (count desc, term) rank,
    running-coverage window sum, and the comparison
    ``100·cum ≥ thr·total`` all stay in BIGINT. One token explode +
    one vocab-sized window (the only global sort touches |vocab| rows,
    not the corpus). Output: one row per threshold with the vocab size
    and that vocab's exact covered-token count.
    """
    from pyspark.sql import Window
    terms = (df
             .select(F.explode(tokens(text_col)).alias("t"))
             .groupBy("t").agg(F.count("*").cast("long").alias("c")))
    w = Window.orderBy(F.col("c").desc(), "t") \
              .rowsBetween(Window.unboundedPreceding, 0)
    ranked = terms.select(
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), "t")).alias("rank"),
        F.sum("c").over(w).alias("cum"))
    tot = ranked.agg(F.max("cum").alias("total"),
                     F.max("rank").alias("n_terms"))
    import functools
    per_thr = [
        ranked.crossJoin(F.broadcast(tot))
        .where(F.col("cum") * 100 >= F.col("total") * F.lit(t))
        .groupBy()
        .agg(F.lit(t).cast("long").alias("threshold_pct"),
             F.min("rank").cast("long").alias("vocab_size"),
             F.max("n_terms").cast("long").alias("n_terms_total"),
             F.max("total").cast("long").alias("total_tokens"))
        for t in thresholds]
    out = functools.reduce(lambda a, b: a.unionAll(b), per_thr)
    # vocab_size's cum is the cover count: join it back exactly
    cover = ranked.select(F.col("rank").alias("vocab_size"),
                          F.col("cum").alias("covered_tokens"))
    return (out.join(F.broadcast(cover), "vocab_size")
            .select("threshold_pct", "vocab_size", "covered_tokens",
                    "n_terms_total", "total_tokens"))


def term_drift_chi2(df: DataFrame, part_cond,
                    text_col: str = "text", min_total: int = 5,
                    k: int = 30) -> DataFrame:
    """Distribution-shift detection between two corpus partitions
    (the 2×2 chi-square per term): which terms are most over/under-
    represented in partition A vs B — the drift report a curation
    pipeline runs between crawl snapshots or source groups.

    Exact integer contingency counts (a, b and the totals); the
    single chi² combination per surviving term runs on a pinned
    double tree and floors at e6; ``sign`` (+1 when the term skews
    into A) stays integer. ``min_total`` prunes the hapax tail before
    scoring. One token explode + a conditional count agg + a 1-row
    broadcast of the totals; top-k is TakeOrderedAndProject.
    """
    toks = df.select(
        part_cond.cast("int").alias("in_a"),
        F.explode(tokens(text_col)).alias("t"))
    per_term = toks.groupBy("t").agg(
        F.sum("in_a").cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("in_a")).cast("long").alias("b"))
    tot = per_term.agg(F.sum("a").cast("long").alias("na"),
                       F.sum("b").cast("long").alias("nb"))
    j = per_term.where(F.col("a") + F.col("b") >= min_total) \
                .crossJoin(F.broadcast(tot))
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    c, d = na - a, nb - b
    n = na + nb
    num = (a * d) - (b * c)
    chi2 = (n * (num * num)) / (((a + b) * (c + d)) * (na * nb))
    sign = F.when(a * nb >= b * na, F.lit(1)).otherwise(F.lit(-1))
    return (j.select("t", F.col("a"), F.col("b"),
                     F.floor(chi2 * F.lit(1_000_000)).cast("long")
                      .alias("chi2_e6"),
                     sign.cast("long").alias("sign"))
            .orderBy(F.col("chi2_e6").desc(), "t").limit(k))


def zipf_fit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf exponent of the corpus token distribution: OLS slope of
    ln(freq) on ln(rank) over the full vocabulary — the one-row
    language-health statistic (natural corpora fit α ≈ 1; boilerplate
    or synthetic floods bend it).

    Exactness: ln(rank)/ln(freq) are QUANTIZED per vocab term to e6
    BIGINTs, the regression moments then accumulate as exact
    decimal(38,0), and the closed-form slope/intercept run once on a
    pinned double tree (the nb-classifier / OLS quantize-then-sum
    pattern). Output: n_terms, total_tokens, alpha_e6 (= −slope) and
    intercept_e6 on the e6 log grid.

    Scale: token explode → vocab agg → one |vocab|-row rank window →
    1-row moment rollup.
    """
    from pyspark.sql import Window
    terms = (df
             .select(F.explode(tokens(text_col)).alias("t"))
             .groupBy("t").agg(F.count("*").cast("long").alias("c")))
    ranked = terms.select(
        "c", F.row_number().over(
            Window.orderBy(F.col("c").desc(), "t")).cast("long")
         .alias("rank"))
    q = ranked.select(
        "c",
        F.floor(F.log(F.col("rank").cast("double")) * 1e6)
         .cast("long").alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1e6)
         .cast("long").alias("y"))
    dec, dec19 = "decimal(38,0)", "decimal(19,0)"
    m = q.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("c").cast("long").alias("total_tokens"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec19) * F.col("x").cast(dec19))
         .alias("sxx"),
        F.sum(F.col("x").cast(dec19) * F.col("y").cast(dec19))
         .alias("sxy"))
    n, sx, sy, sxx, sxy = [F.col(c).cast("double")
                           for c in ("n", "sx", "sy", "sxx", "sxy")]
    den = (n * sxx) - (sx * sx)
    slope = ((n * sxy) - (sx * sy)) / den
    intercept = (sy - (slope * sx)) / n
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        "total_tokens",
        F.when(den != 0.0, F.floor(-slope * F.lit(1_000_000)))
         .otherwise(F.lit(0)).cast("long").alias("alpha_e6"),
        F.when(den != 0.0, F.floor(intercept))
         .otherwise(F.lit(0)).cast("long").alias("intercept_e6"))


def readability(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease per document — the classic curation signal
    for separating natural prose from boilerplate/code soup. Counts
    are deterministic integers: words = non-empty whitespace tokens,
    sentences = max(1, runs of [.!?]), syllables = per-token
    max(1, vowel-group runs [aeiouy]+) summed exactly. The score
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) runs
    ONCE per doc on a pinned double tree and floors at e3 (a
    zero-word doc pins to 0).

    Zero-shuffle projection in whole-stage codegen except the two
    regexp HOFs (still JVM-side, Catalyst-interpreted lambdas); the
    token array binds once."""
    toks = tokens(F.col(text_col))
    d = df.select(id_col, F.col(text_col).alias("_txt"),
                  toks.alias("_w"))
    n_words = F.size("_w").cast("long")
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("_txt"),
                                    F.lit(r"[.!?]+"), F.lit(0)))
    ).cast("long")
    n_syll = F.aggregate(
        "_w", F.lit(0).cast("long"),
        lambda acc, t: acc + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"),
                                        F.lit(0)))).cast("long"))
    wd, sd, yd = [c.cast("double") for c in
                  (n_words, n_sent, n_syll)]
    score = (F.lit(206.835) - F.lit(1.015) * (wd / sd)
             - F.lit(84.6) * (yd / wd))
    return d.select(
        id_col, n_words.alias("n_words"), n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        F.when(n_words > 0, F.floor(score * 1e3))
         .otherwise(F.lit(0)).cast("long").alias("flesch_e3"))


def textrank_keywords(df: DataFrame, iters: int = 2,
                      min_pair: int = 2, k: int = 30,
                      text_col: str = "text") -> DataFrame:
    """TextRank keyword extraction: build the adjacent-token
    co-occurrence graph over the whole corpus (undirected, pairs seen
    ≥ ``min_pair`` times), run the exact-integer PageRank from the
    graph module over it (damping 17/20 on a 1e9 BIGINT grid — no FP
    anywhere in the iteration), and take the global top-k words by
    rank. Deterministic end-to-end: integer ranks tie-break on the
    word itself, and the top-k is TakeOrdered (per-partition heap),
    never a global sort.

    Scale: the pair table is bounded by total token count (adjacency,
    not windows), the min_pair prune drops the hapax tail before the
    rank loop, and each PageRank round shuffles |surviving vocab|-
    sized frames only."""
    from .graph import pagerank
    t = df.select(tokens(F.col(text_col)).alias("w"))
    pair = F.expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
        " (t, i) -> struct(t AS w1, element_at(w, i + 2) AS w2))")
    pairs = (t.select(F.explode(pair).alias("p"))
             .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
             .where(F.col("w1") != F.col("w2")))
    und = (pairs.select(F.least("w1", "w2").alias("lo"),
                        F.greatest("w1", "w2").alias("hi"))
           .groupBy("lo", "hi").agg(F.count("*").alias("c"))
           .where(F.col("c") >= min_pair))
    edges = (und.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
             .unionAll(und.select(F.col("hi").alias("src"),
                                  F.col("lo").alias("dst"))))
    ranks = pagerank(edges, iters=iters)
    return (ranks.select(F.col("node").alias("word"),
                         F.col("rank_e9"))
            .orderBy(F.col("rank_e9").desc(), F.col("word").asc())
            .limit(k))


def js_divergence_sources(df: DataFrame, src_a: str = "src0",
                          src_b: str = "src1", k: int = 20,
                          text_col: str = "text",
                          source_col: str = "source") -> DataFrame:
    """Jensen-Shannon divergence between two sources' unigram token
    distributions, with the top-k contributing tokens — the
    corpus-mixing diagnostic that says WHICH terms make two data
    sources different (always finite, unlike KL, because each side's
    term uses the mixture as reference).

    Exactness: token counts and totals are exact BIGINTs; each token's
    0.5·(pa·ln(pa/m) + pb·ln(pb/m)) term (m = (pa+pb)/2; an absent
    side contributes 0) runs ONCE on a pinned double tree and floors
    at e9; the headline total is the EXACT integer sum of floored
    terms over the whole vocabulary, computed before the top-k cut.

    Plan: one token agg (|vocab| rows), a 1-row totals agg broadcast
    back (never a window over the vocab), one more 1-row agg for the
    total, TakeOrdered for the top-k."""
    toks = (df.where(F.col(source_col).isin(src_a, src_b))
            .select(F.col(source_col).alias("s"),
                    F.explode(tokens(F.col(text_col))).alias("tok")))
    counts = toks.groupBy("tok").agg(
        F.sum((F.col("s") == src_a).cast("long")).alias("ca"),
        F.sum((F.col("s") == src_b).cast("long")).alias("cb"))
    tot = counts.groupBy().agg(F.sum("ca").alias("na"),
                               F.sum("cb").alias("nb"))
    t = counts.crossJoin(F.broadcast(tot))
    pa = F.col("ca").cast("double") / F.col("na").cast("double")
    pb = F.col("cb").cast("double") / F.col("nb").cast("double")
    m = (pa + pb) * F.lit(0.5)
    ta = F.when(F.col("ca") > 0, pa * F.log(pa / m)).otherwise(F.lit(0.0))
    tb = F.when(F.col("cb") > 0, pb * F.log(pb / m)).otherwise(F.lit(0.0))
    term = F.floor((ta + tb) * F.lit(0.5) * 1e9).cast("long")
    scored = t.select("tok", "ca", "cb", term.alias("term_e9"))
    total = scored.groupBy().agg(
        F.sum("term_e9").cast("long").alias("js_total_e9"))
    return (scored.crossJoin(F.broadcast(total))
            .orderBy(F.col("term_e9").desc(), F.col("tok").asc())
            .limit(k)
            .select("tok", "ca", "cb", "term_e9", "js_total_e9"))


_CAL_BINS = 10


def calibration_bins(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Reliability diagram of the Naive-Bayes language classifier:
    documents bucketed into deciles of prediction CONFIDENCE (the
    integer margin between the top-2 class scores), each bin scored
    by how often the NB prediction agrees with the stopword
    heuristic's confident labels — the calibration audit every
    model-assisted labeling pipeline runs before trusting
    soft-labeled data.

    Deterministic end-to-end: margins are exact e6 BIGINTs, decile
    cuts come from cumulative DISTINCT-margin counts (the PSI
    nearest-rank pattern — never an interpolated percentile or a
    global row_number), agreement counts are exact, and the one
    rate division per bin floors at e6.

    Plan: the NB scoring pass (broadcast model), one |distinct
    margins| agg + ordered window on that grid, a 1-row cut
    broadcast, one 10-bin agg."""
    from pyspark.sql import Window
    nb = nb_lang_classifier(df, text_col, id_col)
    heur = lang_id(df, text_col, id_col).select(
        id_col, F.col("lang_pred"))
    en, es, fr = (F.col("score_en_e6"), F.col("score_es_e6"),
                  F.col("score_fr_e6"))
    top1 = F.greatest(en, es, fr)
    mid = en + es + fr - top1 - F.least(en, es, fr)
    j = (nb.join(heur, id_col)
         .select((top1 - mid).cast("long").alias("margin"),
                 (F.col("lang_pred") != "und").cast("long")
                 .alias("confident"),
                 ((F.col("lang_pred") != "und")
                  & (F.col("nb_pred") == F.col("lang_pred")))
                 .cast("long").alias("agree")))
    per_v = j.groupBy("margin").agg(F.count("*").alias("c_v"))
    w = Window.orderBy("margin").rowsBetween(
        Window.unboundedPreceding, 0)
    cum = per_v.select(
        "margin", F.sum("c_v").over(w).alias("cum"),
        F.sum("c_v").over(Window.partitionBy()).alias("n_all"))
    cuts = cum.groupBy().agg(*[
        F.min(F.when(F.col("cum") * _CAL_BINS
                     >= kk * F.col("n_all"), F.col("margin")))
         .alias(f"c{kk}") for kk in range(1, _CAL_BINS)])
    binned = j.crossJoin(F.broadcast(cuts)).select(
        "confident", "agree",
        sum((F.col("margin") > F.col(f"c{kk}")).cast("long")
            for kk in range(1, _CAL_BINS)).alias("bin"))
    agg = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("confident").cast("long").alias("n_confident"),
        F.sum("agree").cast("long").alias("n_agree"))
    bins = df.sparkSession.range(_CAL_BINS).select(
        F.col("id").cast("long").alias("bin"))
    full = (bins.join(agg, "bin", "left")
            .select("bin",
                    F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                    F.coalesce("n_confident", F.lit(0))
                     .alias("n_confident"),
                    F.coalesce("n_agree", F.lit(0)).alias("n_agree")))
    rate = F.floor(F.col("n_agree").cast("double")
                   / F.col("n_confident").cast("double") * 1e6)
    return full.select(
        "bin", "n_docs", "n_confident", "n_agree",
        F.when(F.col("n_confident") > 0, rate)
         .otherwise(F.lit(0)).cast("long").alias("agree_rate_e6")
    ).orderBy("bin")


def tokenizer_fertility(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Tokenizer fertility per language: subword pieces emitted per
    whitespace word under the fixed greedy vocabulary — the
    cross-lingual cost metric that says which languages pay more
    sequence length per word (drives per-language token budgeting).

    Composes :func:`subword_piece_counts` (zero-shuffle greedy fold)
    with the gold ``lang`` column; per-language sums are exact
    BIGINTs and the one fertility division per language floors at
    e6."""
    pc = subword_piece_counts(df, text_col, id_col)
    j = df.select(id_col, "lang").join(pc, id_col)
    agg = j.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.sum("n_pieces").cast("long").alias("sum_pieces"))
    fert = F.floor(F.col("sum_pieces").cast("double")
                   / F.col("sum_words").cast("double") * 1e6)
    return agg.select(
        "lang", "n_docs", "sum_words", "sum_pieces",
        F.when(F.col("sum_words") > 0, fert)
         .otherwise(F.lit(0)).cast("long").alias("fertility_e6")
    ).orderBy("lang")


def kwic(df: DataFrame, term: str = "the", width: int = 2,
         text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keyword-in-context extraction: for documents containing
    ``term``, the 1-based position of its FIRST occurrence and the
    ±``width``-token window joined as a snippet — the concordance
    view an annotation/debugging pipeline serves next to every
    keyword hit.

    Zero-shuffle projection: the token array binds once,
    array_position / slice / concat_ws all run in whole-stage
    codegen; both engines share identical 1-based index arithmetic
    (Spark array_position = DuckDB list_position)."""
    t = df.select(id_col,
                  tokens(F.col(text_col)).alias("_w"))
    pos = F.array_position("_w", term)
    start = F.greatest(F.lit(1), pos - width)
    fin = F.least(F.size("_w").cast("long"), pos + width)
    return (t.select(id_col, F.col("_w"),
                     pos.cast("long").alias("pos"),
                     F.size("_w").cast("long").alias("n_tokens"),
                     start.alias("_s"), fin.alias("_f"))
            .where(F.col("pos") > 0)
            .select(id_col, "pos", "n_tokens",
                    F.concat_ws(" ", F.slice(
                        F.col("_w"), F.col("_s").cast("int"),
                        (F.col("_f") - F.col("_s") + 1).cast("int")))
                    .alias("snippet")))


def vocab_prune(df: DataFrame, min_df: int = 2,
                max_df_ratio_e2: int = 50,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Vocabulary-pruning manifest: per token, its DOCUMENT frequency
    and whether it survives the [min_df, max_df%] band — the
    feature-selection gate (drop hapax noise below, drop
    stopword-like ubiquity above) every bag-of-words / tf-idf
    pipeline applies before building features.

    All-integer decision: the ratio test is the cross-multiplied
    ``df·100 ≤ ratio_e2·n_docs`` — no division anywhere. One
    per-(doc, token) distinct pass (map-side array_distinct before
    the explode keeps the shuffle at unique-tokens-per-doc), one
    |vocab| agg, a 1-row broadcast of n_docs."""
    per_doc = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col))))
         .alias("tok"))
    dfreq = per_doc.groupBy("tok").agg(
        F.count("*").cast("long").alias("doc_freq"))
    nd = df.groupBy().agg(F.count("*").cast("long").alias("n_docs"))
    t = dfreq.crossJoin(F.broadcast(nd))
    kept = ((F.col("doc_freq") >= min_df)
            & (F.col("doc_freq") * 100
               <= F.lit(max_df_ratio_e2) * F.col("n_docs")))
    return (t.select("tok", "doc_freq", "n_docs",
                     kept.cast("long").alias("kept"))
            .orderBy("tok"))


_CJK_RANGE = "[一-鿿]"


def script_mix(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Unicode script composition per document: CJK / Latin / digit
    character counts and the dominant script — the routing signal a
    multilingual pipeline uses before language-specific tokenizers.

    Ranges are literal character classes (the actual codepoints are
    embedded in the pattern, so Java regex and RE2 read the identical
    class — no \\p{...} property names, whose tables differ between
    engines). Dominance ties break CJK > Latin > digit,
    deterministically. Zero-shuffle codegen projection."""
    t = F.col(text_col)
    n_cjk = F.size(F.regexp_extract_all(t, F.lit(_CJK_RANGE),
                                        F.lit(0))).cast("long")
    n_latin = F.size(F.regexp_extract_all(t, F.lit("[A-Za-z]"),
                                          F.lit(0))).cast("long")
    n_digit = F.size(F.regexp_extract_all(t, F.lit("[0-9]"),
                                          F.lit(0))).cast("long")
    d = df.select(id_col, n_cjk.alias("n_cjk"),
                  n_latin.alias("n_latin"), n_digit.alias("n_digit"))
    dom = (F.when((F.col("n_cjk") >= F.col("n_latin"))
                  & (F.col("n_cjk") >= F.col("n_digit"))
                  & (F.col("n_cjk") > 0), F.lit("cjk"))
           .when((F.col("n_latin") >= F.col("n_digit"))
                 & (F.col("n_latin") > 0), F.lit("latin"))
           .when(F.col("n_digit") > 0, F.lit("digit"))
           .otherwise(F.lit("none")))
    return d.select(id_col, "n_cjk", "n_latin", "n_digit",
                    dom.alias("dominant_script"))


def hapax_ratio_by_source(df: DataFrame, text_col: str = "text",
                          source_col: str = "source") -> DataFrame:
    """Hapax legomena ratio per source: the share of a source's token
    occurrences whose CORPUS-WIDE frequency is exactly 1 — high
    ratios flag OCR noise / mojibake / random-string pollution in one
    ingestion source before it reaches training.

    Exact integers end to end; the global frequency table joins on
    the token (shuffle keyed by token — at 100 TB pre-aggregate
    per-source counts first so the join carries |source × vocab|
    rows, which is what this does)."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(tokens(F.col(text_col))).alias("tok"))
    per_src = toks.groupBy("source", "tok").agg(
        F.count("*").alias("c_src"))
    glob = per_src.groupBy("tok").agg(F.sum("c_src").alias("c_all"))
    j = per_src.join(glob, "tok")
    agg = j.groupBy("source").agg(
        F.sum("c_src").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c_all") == 1, F.col("c_src"))
               .otherwise(F.lit(0))).cast("long").alias("n_hapax"))
    return (agg.select(
        "source", "n_tokens", "n_hapax",
        F.expr("(n_hapax * 1000000) div n_tokens").cast("long")
        .alias("hapax_ratio_e6"))
        .orderBy("source"))


def _ndcg_discounts(k: int) -> list[int]:
    """floor(1e9 / log2(r+1)) for r=1..k — computed once in Python and
    embedded as LITERALS in both engines (no runtime log2 calls to
    diverge)."""
    import math
    return [int(1e9 / math.log2(r + 1)) for r in range(1, k + 1)]


def retrieval_eval(df: DataFrame, query_terms: list[str], k: int = 10,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Offline retrieval quality: MRR and nDCG@k of the BM25 ranking
    against the conjunctive relevance set (documents containing ALL
    query terms) — the eval loop every retrieval stack runs before a
    ranker change ships.

    All-integer scoring: rank discounts are Python-computed e9
    literals (identical in the oracle), MRR is ``1e9 div rank``, DCG
    and IDCG are exact integer sums of literals, and
    nDCG = (dcg·1e6) div idcg. The rank window runs over the k-row
    BM25 result — trivially single-partition."""
    from pyspark.sql import Window
    ranked = (bm25_topk(df, query_terms, k, text_col, id_col)
              .select(F.col(id_col), F.col("score_e6"))
              .withColumn("rank", F.row_number().over(
                  Window.orderBy(F.desc("score_e6"), F.col(id_col)))))
    toks = tokens(F.col(text_col))
    n_present = None
    for t in query_terms:
        c = F.array_contains(toks, t).cast("long")
        n_present = c if n_present is None else n_present + c
    rel = df.select(F.col(id_col),
                    (n_present == len(query_terms)).cast("long")
                    .alias("relevant"))
    n_rel = rel.groupBy().agg(
        F.sum("relevant").cast("long").alias("n_relevant"))
    disc = _ndcg_discounts(k)
    disc_col = F.lit(0).cast("long")
    for r, dv in enumerate(disc, start=1):
        disc_col = F.when(F.col("rank") == r, F.lit(dv)) \
                    .otherwise(disc_col)
    j = ranked.join(rel, id_col)
    hits = j.groupBy().agg(
        F.min(F.when(F.col("relevant") == 1, F.col("rank")))
         .alias("first_rel_rank"),
        F.sum(F.when(F.col("relevant") == 1, disc_col)
               .otherwise(F.lit(0))).cast("long").alias("dcg_e9"))
    cum = [0]
    for dv in disc:
        cum.append(cum[-1] + dv)
    out = hits.crossJoin(F.broadcast(n_rel))
    m = F.least(F.col("n_relevant"), F.lit(k)).cast("int")
    idcg = F.lit(0).cast("long")
    for i in range(1, k + 1):
        idcg = F.when(m == i, F.lit(cum[i])).otherwise(idcg)
    mrr = F.when(F.col("first_rel_rank").isNotNull(),
                 F.expr("1000000000 div first_rel_rank")) \
           .otherwise(F.lit(0))
    return out.select(
        "n_relevant",
        F.coalesce("first_rel_rank", F.lit(0)).cast("long")
         .alias("first_rel_rank"),
        mrr.cast("long").alias("mrr_e9"),
        "dcg_e9", idcg.alias("idcg_e9")
    ).select("n_relevant", "first_rel_rank", "mrr_e9", "dcg_e9",
             "idcg_e9",
             F.when(F.col("idcg_e9") > 0,
                    F.expr("(dcg_e9 * 1000000) div idcg_e9"))
              .otherwise(F.lit(0)).cast("long").alias("ndcg_e6"))


def phrase_hits(df: DataFrame, phrase: str, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact multi-word phrase search over the positional token index
    — the inverted-index-with-positions primitive under every "quoted
    query" feature.  Each phrase word becomes a filtered projection of
    the (doc, pos, tok) index normalized to the phrase START position
    (pos - i); an n-way equi join on (doc, start) keeps exactly the
    positions where all n words line up consecutively.  The word
    filters push into the index scan, and every join key is
    (doc, start) — co-partitioned end to end, no join wider than the
    per-word posting lists at any corpus size.  Output: doc and its
    occurrence count, matching docs only."""
    words = phrase.lower().split()
    if len(words) < 2:
        raise ValueError("phrase_hits wants a multi-word phrase")
    idx = (df
           .select(F.col(id_col),
                   F.posexplode(tokens(text_col))
                    .alias("pos", "tok")))
    streams = [
        idx.where(F.col("tok") == w)
           .select(F.col(id_col), (F.col("pos") - i).alias("start"))
        for i, w in enumerate(words)]
    hits = streams[0]
    for s in streams[1:]:
        hits = hits.join(s, [id_col, "start"])
    return (hits.groupBy(id_col)
            .agg(F.count("*").alias("n_hits"))
            .orderBy(id_col))


def phrase_hits_oracle(phrase: str, table: str = "documents",
                       text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    """DuckDB twin: same tokenizer, same start-aligned n-way join."""
    words = phrase.lower().split()
    streams = ",\n".join(
        f"  s{i} AS (SELECT {id_col}, (pos - {i}) AS start FROM idx "
        f"WHERE tok = '{w}')"
        for i, w in enumerate(words))
    joins = " ".join(
        f"JOIN s{i} USING ({id_col}, start)"
        for i in range(1, len(words)))
    return rf"""
  WITH w AS (
    SELECT {id_col},
           list_filter(string_split_regex(lower({text_col}), '\s+'),
                       t -> t <> '') AS w
    FROM {table}
  ),
  idx AS (
    SELECT {id_col}, (i - 1)::INT AS pos, w[i] AS tok
    FROM w, unnest(generate_series(1, len(w))) AS t(i)
  ),
{streams}
  SELECT {id_col}, count(*)::BIGINT AS n_hits
  FROM s0 {joins}
  GROUP BY {id_col} ORDER BY {id_col}
"""


def trending_terms(df: DataFrame, epoch_expr,
                   text_col: str = "text", k: int = 20,
                   max_age: int = 40) -> DataFrame:
    """Trending terms under exponential time decay: each epoch-count
    contributes count >> age (integer halving per epoch of age,
    capped at ``max_age`` where the contribution is provably zero for
    any realistic count) — the deterministic integer twin of the
    e^{-λt} decayed counter every trending widget runs.
    ``epoch_expr`` is any integer Column giving the row's time bucket
    (a day number, an ingest-batch id…).  One (term, epoch) agg over
    the corpus, one 1-row max-epoch broadcast, a reagg to terms,
    TakeOrdered k with a (score desc, term) total order."""
    toks = df.select(
        epoch_expr.cast("long").alias("ep"),
        F.explode(tokens(text_col)).alias("term"))
    per = toks.groupBy("term", "ep").agg(F.count("*").alias("c"))
    mx = per.groupBy().agg(F.max("ep").alias("max_ep"))
    scored = (per.crossJoin(F.broadcast(mx))
              .select("term",
                      # 1L, not 1: Java masks the shift mod the operand
                      # width, so an INT base turns age >= 32 into a
                      # wrong small divisor instead of ~2^age
                      F.expr(f"c div shiftleft(1L, cast(least("
                             f"max_ep - ep, {max_age}) as int))")
                      .alias("w")))
    agg = scored.groupBy("term").agg(
        F.sum("w").cast("long").alias("score"))
    return (agg.where(F.col("score") > 0)
            .orderBy(F.col("score").desc(), "term").limit(k))


# ---------------------------------------------------------------------------
# Multi-round BPE merge learning (vocabulary-factored)
# ---------------------------------------------------------------------------

def bpe_merge_rounds(df: DataFrame, rounds: int = 3,
                     text_col: str = "text") -> DataFrame:
    """Learn the first ``rounds`` BPE merges (Sennrich et al. 2016),
    APPLYING each winning merge before counting the next round — the
    iterative step `bpe_top_merges` (round 1 only) stops short of.
    Output: one row per round — (round, pair, merged, pair_count).

    Vocabulary-factored throughout: pair statistics and merge
    application run over the DISTINCT-word frame weighted by corpus
    counts (the standard trick — corpus size never re-enters after the
    first word count). Each word is a single-spaced symbol string
    (' h e l l o '); applying merge "l l" is two passes of literal
    replace(' l l ', ' ll ') — the second pass catches the alternating
    chains the first pass's non-overlapping scan skips, and both
    engines' replace() share left-to-right non-overlap semantics, so
    segmentations match bit-for-bit. (True greedy BPE retokenization
    differs only on 3+ self-overlapping runs; the deviation is applied
    identically on both engines and disclosed here.)

    Scale shape: ONE corpus-sized shuffle (the word count); every
    round after that is a groupBy over the vocab-sized pair frame plus
    a 1-row broadcast of the winning pair back onto the vocab frame.
    The winner is TakeOrdered(1), never a global sort."""
    outs, _ = _bpe_chain(df, rounds, text_col)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("round")


def bpe_learned_segmentation(df: DataFrame, rounds: int = 3,
                             text_col: str = "text") -> DataFrame:
    """The learned tokenizer APPLIED: after ``rounds`` BPE merges, the
    per-distinct-word segmentation — (w, c, n_pieces) where n_pieces
    is the subword count the merge table yields for that word. This is
    the vocab-factored artifact a fertility/packing audit consumes
    (see round11's ``bpe_fertility_by_source``): corpus cost re-enters
    only as a join against this vocab-sized frame."""
    _, wf = _bpe_chain(df, rounds, text_col)
    return wf.select(
        "w", "c",
        F.size(F.split(F.trim(F.col("seq")), " ")).cast("long")
         .alias("n_pieces"))


def _bpe_chain(df: DataFrame, rounds: int, text_col: str):
    """Shared BPE learn loop: returns (per-round winner frames, final
    vocab frame (w, c, seq))."""
    words = (df
             .select(F.explode(tokens(text_col)).alias("w"))
             .groupBy("w").agg(F.count("*").cast("long").alias("c")))
    wf = words.select(
        "w", "c", F.concat(F.lit(" "),
                           F.regexp_replace("w", "(.)", "$1 ")).alias("seq"))
    outs = []
    for r in range(1, rounds + 1):
        toks = F.split(F.trim(F.col("seq")), " ")
        m = F.greatest(F.size(toks) - 1, F.lit(0))
        prs = F.zip_with(F.slice(toks, 1, m), F.slice(toks, 2, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
        pc = (wf.select(F.col("c"), F.explode(prs).alias("pair"))
                .groupBy("pair").agg(F.sum("c").cast("long").alias("cnt")))
        top = (pc.orderBy(F.col("cnt").desc(), F.col("pair").asc())
                 .limit(1)
                 .select(F.col("pair").alias("mp"),
                         F.col("cnt").alias("mcnt")))
        outs.append(top.select(
            F.lit(r).cast("long").alias("round"),
            F.col("mp").alias("pair"),
            F.replace(F.col("mp"), F.lit(" "), F.lit("")).alias("merged"),
            F.col("mcnt").alias("pair_count")))
        pat = F.concat(F.lit(" "), F.col("mp"), F.lit(" "))
        rep = F.concat(F.lit(" "),
                       F.replace(F.col("mp"), F.lit(" "), F.lit("")),
                       F.lit(" "))
        wf = (wf.crossJoin(F.broadcast(top))
                .select("w", "c",
                        F.replace(F.replace(F.col("seq"), pat, rep),
                                  pat, rep).alias("seq")))
    return outs, wf
