"""User-facing facade — the one-import surface a reference user
switches to.

The reference's workflow (readme.md:5-16) is: ingest tweets/users/
projects → preprocess + score → detect KOLs → aggregate engagement →
serve top-K/histograms/time-series. ``Engine`` exposes exactly that,
plus the training-data extensions (dedup / similarity / text / media),
each method returning a lazy DataFrame the caller composes further.

    from bigdata_project_hust_spark.api import Engine
    eng = Engine(spark, "/root/testdata/sf0.1")
    eng.kols().show()                      # scored + thresholded users
    eng.near_duplicates("minhash").show()  # doc near-dup pairs
    eng.curated_corpus().show()            # quality ∧ lang ∧ dedup gate
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .io import load_table
from .operators import dedup, similarity, text
from .operators.projections import KOL_THRESHOLD, kol_filter
from .plans.queries import QUERIES


class Engine:
    """Thin, stateless facade over the operator library; every method
    is lazy (returns a DataFrame) and reads from the engine's fixture
    directory. For the full named-query catalog use :meth:`query` —
    one entry per SURVEY §2 operator / extension (COVERAGE.md)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    # -- catalog ----------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def query(self, name: str) -> DataFrame:
        """Run any registered query by name (see COVERAGE.md)."""
        return QUERIES[name].fn(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        return list(QUERIES)

    # -- reference workflow -----------------------------------------
    def kols(self, threshold: float = KOL_THRESHOLD) -> DataFrame:
        """Scored users above the influence threshold (F1 + P2)."""
        from .plans.queries import _customer_scored
        return kol_filter(_customer_scored(self.spark, self.sf_dir),
                          threshold)

    def engagement_log(self, window_s: int = 600) -> DataFrame:
        """Per-user map<window_ts → [metrics]> (ST7 sink shape)."""
        from .operators.windows import engagement_change_log
        return engagement_change_log(self.table("events"), "ts",
                                     "user_id", window_s, ["value"])

    # -- training-data extensions -----------------------------------
    def near_duplicates(self, method: str = "minhash") -> DataFrame:
        """Document near-dup pairs: 'exact', 'minhash', 'simhash',
        'ngram', or 'embedding'."""
        d = self.table("documents")
        if method == "exact":
            return dedup.exact_duplicates(d)
        if method == "minhash":
            return dedup.minhash_near_duplicates(d)
        if method == "simhash":
            return dedup.simhash_near_duplicates(d)
        if method == "ngram":
            return dedup.ngram_jaccard_pairs_capped(d)
        if method == "embedding":
            return similarity.embedding_near_duplicates(
                self.table("embeddings"))
        raise ValueError(f"unknown dedup method {method!r}")

    def similar(self, query_id: int, k: int = 10,
                method: str = "brute") -> DataFrame:
        """Top-k neighbours of a stored vector: 'brute', 'lsh', 'ivf'."""
        e = self.table("embeddings")
        if method == "brute":
            return similarity.cosine_topk(e, query_id, k)
        if method == "lsh":
            return similarity.lsh_cosine_topk(e, query_id, k)
        if method == "ivf":
            return similarity.ivf_topk(e, query_id, k)
        raise ValueError(f"unknown similarity method {method!r}")

    def curated_corpus(self) -> DataFrame:
        """Quality ∧ language ∧ dedup-keeper gated documents."""
        return self.query("training_corpus_curation")

    def doc_features(self) -> DataFrame:
        """Quality + language features, one tokenize pass."""
        return text.doc_features(self.table("documents"))

    def gapfilled_engagement(self, window_s: int = 600) -> DataFrame:
        """Dense-grid per-user rollup (zero-fill + LOCF + gap flag)."""
        from .operators.windows import gapfill_tumbling
        return gapfill_tumbling(self.table("events"), "ts", "user_id",
                                window_s, "value")

    def quality_report(self) -> DataFrame:
        """Null/uniqueness/referential-integrity audit of the fact
        tables as one tall frame."""
        return self.query("data_quality_audit")

    def sample(self, rate_bp: int = 1000, seed: int = 7) -> DataFrame:
        """Deterministic hash-bucket document sample (rate in basis
        points) — reproducible across reruns/repartitions/engines."""
        from .operators import sampling
        return sampling.deterministic_sample(
            self.table("documents"), "doc_id", rate_bp, seed)

    def split(self, weights_bp: tuple[tuple[str, int], ...] = (
            ("train", 8000), ("val", 1000), ("test", 1000))) -> DataFrame:
        """Stable train/val/test assignment by key hash."""
        from .operators import sampling
        return sampling.split_assign(self.table("documents"), "doc_id",
                                     weights_bp)

    def duplicate_clusters(self, method: str = "minhash") -> DataFrame:
        """Near-dup pairs → connected components → one keeper per
        cluster with its size (the drop-list for curation)."""
        return dedup.duplicate_cluster_keepers(self.near_duplicates(method))

    def quality_logprob(self) -> DataFrame:
        """CCNet-style unigram log-prob quality proxy per document."""
        return text.unigram_logprob(self.table("documents"))

    def scrubbed_corpus(self) -> DataFrame:
        """PII-redacted documents + per-category match counts."""
        return text.pii_scrub(self.table("documents"))

    def urls(self) -> DataFrame:
        """One row per URL occurrence across the corpus."""
        return text.extract_urls(self.table("documents"))

    def audio_features(self, assets: DataFrame) -> DataFrame:
        """Real WAV decode + feature extraction over a media-asset
        frame (``asset_id``, ``payload`` binary); corrupt payloads
        come back ok=false instead of failing the job."""
        from .operators import multimodal
        return multimodal.extract_audio_features(assets)

    def replay_stream(self, topics: dict[str, tuple[DataFrame, str]],
                      rows_per_second: float = 0.1) -> DataFrame:
        """The reference producer's round-robin replay as a streaming
        source (S3): one record per table per tick, JSON-encoded."""
        from .streaming.pipeline import rate_replay_stream
        return rate_replay_stream(self.spark, topics, rows_per_second)

    # -- round-3 curation / layout ----------------------------------
    def decontaminate(self, bench: DataFrame, n: int = 13) -> DataFrame:
        """Per-document n-gram overlap vs a benchmark set (broadcast);
        filter ``contaminated == 0`` to get the clean slice."""
        from .operators.curation import benchmark_overlap
        return benchmark_overlap(self.table("documents"), bench, n=n)

    def pack_sequences(self, seq_len: int = 2048) -> DataFrame:
        """Concat-and-split packing manifest (doc → offset / pack id),
        two-phase cumsum — no single-task global window."""
        from pyspark.sql import functions as F
        from .operators.curation import sequence_pack
        from .operators.text import tokens
        nt = self.table("documents").select(
            F.col("doc_id"),
            F.size(tokens("text")).cast("long").alias("n_tokens"))
        return sequence_pack(nt, seq_len=seq_len)

    def chunks(self, chunk_size: int = 512, stride: int = 384) -> DataFrame:
        """Overlapping token-window chunks (RAG-style), zero-shuffle."""
        from .operators.curation import chunk_tokens
        return chunk_tokens(self.table("documents"), chunk_size=chunk_size,
                            stride=stride)

    def dsir_weights(self, target_cond) -> DataFrame:
        """DSIR unigram importance weights toward the target-domain
        rows selected by ``target_cond`` (a boolean Column)."""
        from .operators.curation import dsir_logratio
        return dsir_logratio(self.table("documents"), target_cond)

    def deduped_lines(self, line_tokens: int = 8) -> DataFrame:
        """C4-style corpus-wide line dedup with doc reassembly."""
        from .operators.curation import line_dedup
        return line_dedup(self.table("documents"), line_tokens=line_tokens)

    def shuffled_order(self, seed: int = 7) -> DataFrame:
        """Reproducible global training-order permutation."""
        from .operators.curation import corpus_shuffle
        return corpus_shuffle(self.table("documents"), seed=seed)

    def quantized_embeddings(self) -> DataFrame:
        """Symmetric int8 embedding quantization + max error."""
        from .operators.similarity import quantize_int8
        return quantize_int8(self.table("embeddings"))

    def training_manifest(self) -> DataFrame:
        """Full curation chain: line dedup → 13-gram decontamination →
        DSIR gate → sequence packing (see plans/pipeline_more.py)."""
        return self.query("training_manifest")

    def image_features(self, assets: DataFrame) -> DataFrame:
        """REAL raster decode (PPM/BMP) + pixel-statistics features
        over a media-asset frame (``asset_id``, ``payload`` binary);
        undecodable payloads come back ok=false."""
        from .operators import multimodal
        return multimodal.extract_image_features(assets)

    def thumbnails(self, assets: DataFrame, width: int = 32,
                   height: int = 32) -> DataFrame:
        """Real nearest-neighbor thumbnails (PPM-encoded) for raster
        payloads; ok=false rows for anything undecodable."""
        from .operators import multimodal
        return multimodal.resize_rasters(assets, width, height)

    def resampled_corpus(self, target_cond) -> DataFrame:
        """Deterministic DSIR importance resample toward the target
        rows selected by ``target_cond`` (hash-accept, reproducible)."""
        from .operators.curation import dsir_resample
        return dsir_resample(self.table("documents"), target_cond)

    def search(self, terms: list[str], k: int = 10) -> DataFrame:
        """BM25 top-k document retrieval for a bag of query terms."""
        return text.bm25_topk(self.table("documents"), terms, k=k)

    def duplicated_spans(self, n: int = 20) -> DataFrame:
        """Substring-level exact-dedup stats: duplicated n-token spans
        per document with covered-token interval union (EXACTSUBSTR,
        Lee et al. 2021)."""
        return dedup.span_duplicates(self.table("documents"), n=n)

    def clusters(self, k: int = 8, iters: int = 2) -> DataFrame:
        """Lloyd's k-means over the embedding table on the exact
        integer grid (deterministic seeds and assignments)."""
        return similarity.kmeans_assign(self.table("embeddings"),
                                        k=k, iters=iters)

    def history(self, key_col: str = "user_id",
                attr_col: str = "event_type") -> DataFrame:
        """SCD2 validity intervals for an attribute over the event
        stream (valid_from / valid_to / is_current)."""
        from .operators.windows import scd2_history
        return scd2_history(self.table("events"), key_col, attr_col,
                            "ts", "event_id")

    def histogram(self, col: str = "value", lo: float = 0.0,
                  hi: float = 500.0, nbins: int = 10) -> DataFrame:
        """Equi-width histogram of an events column with explicit
        under/overflow bins."""
        from .operators.aggregations import value_histogram
        return value_histogram(self.table("events"), col, lo, hi, nbins)

    def replay_source(self, table: str = "events",
                      batch_rows: int = 1000, loop: bool = False):
        """The reference's round-robin replay producer as a custom
        Spark 4 Python Data Source streaming DataFrame."""
        from .sources import register_fixture_replay
        register_fixture_replay(self.spark)
        return (self.spark.readStream.format("fixture_replay")
                .option("path", f"{self.sf_dir}/{table}.parquet")
                .option("batch_rows", str(batch_rows))
                .option("loop", "true" if loop else "false").load())

    def trade_pagerank(self, iters: int = 3) -> DataFrame:
        """PageRank over the supplier↔customer trade graph (exact
        integer damping — deterministic ranks)."""
        from .operators.graph import pagerank, supplier_customer_edges
        return pagerank(supplier_customer_edges(
            self.table("lineitem"), self.table("orders")), iters=iters)

    def similar_documents(self, min_sim_e6: int = 850_000,
                          max_df: int | None = None) -> DataFrame:
        """Sparse TF-IDF cosine pairs over the documents table
        (inverted-index generation, df-cap scale guard)."""
        return text.tfidf_sparse_pairs(self.table("documents"),
                                       min_sim_e6=min_sim_e6,
                                       max_df=max_df)

    def entropy(self) -> DataFrame:
        """Per-document token-distribution Shannon entropy (bits e6)."""
        return text.token_entropy(self.table("documents"))

    def part_triangles(self) -> DataFrame:
        """Per-part triangle counts on the co-purchase graph
        (degree-ordered node-iterator)."""
        from .operators.graph import copurchase_edges, triangle_count
        return triangle_count(copurchase_edges(self.table("lineitem")))

    def label_purity(self, k: int = 5) -> DataFrame:
        """kNN majority-vote label eval over the embedding table —
        neighbor label purity as an embedding-quality signal."""
        return similarity.knn_label_vote(self.table("embeddings"), k=k)

    def outliers(self, sigmas: int = 3) -> DataFrame:
        """Per-user 3-sigma value outliers (exact cross-multiplied
        integer z-score — no FP moments)."""
        from .operators.aggregations import value_outliers
        return value_outliers(self.table("events"), "user_id", "value",
                              "event_id", sigmas=sigmas)

    # ---- round-3c surface: quality rules, semantic dedup, sketches ----

    def gopher_report(self) -> DataFrame:
        """Gopher composite quality rules: per-document counters, one
        flag per rule, and the overall ``passes`` conjunction."""
        return text.gopher_rules(self.table("documents"))

    def semantic_duplicates(self, k: int = 8, iters: int = 2,
                            min_sim_e6: int = 950_000) -> DataFrame:
        """SemDeDup: k-means clusters + within-cluster cosine pruning
        (greedy lowest-id keeper); returns (vec_id, cluster_id,
        is_kept). Default threshold 0.95 per the paper — the registry
        query passes the fixture-tuned 0.30 explicitly."""
        return similarity.semantic_dedup(
            self.table("embeddings"), k=k, iters=iters,
            min_sim_e6=min_sim_e6)

    def perplexity_buckets(self) -> DataFrame:
        """CCNet-style head/middle/tail corpus partition by unigram
        log-prob quartiles (broadcast cutoffs, no global sort)."""
        from .plans.curation3 import q_ccnet_perplexity_buckets
        return q_ccnet_perplexity_buckets(self.spark, self.sf_dir)

    def bpe_merges(self) -> DataFrame:
        """Top BPE merge candidates (round 1): adjacent char-pair
        counts factored through the vocabulary."""
        from .plans.curation3 import q_bpe_top_merges
        return q_bpe_top_merges(self.spark, self.sf_dir)

    def funnel(self, stages: tuple[str, ...] = ("view", "click",
                                                "purchase"),
               within_s: int = 86400) -> DataFrame:
        """Time-boxed ordered conversion funnel over the events table."""
        from .operators.eventflow import event_funnel
        return event_funnel(self.table("events"), stages=stages,
                            within_s=within_s)

    def retention(self) -> DataFrame:
        """Daily retention cohort triangle over the events table."""
        from .operators.eventflow import retention_cohorts
        return retention_cohorts(self.table("events"))

    def distinct_sketch(self, table: str, col: str) -> DataFrame:
        """Deterministic HLL distinct-count sketch (register-exact on
        any engine), estimate asserted against the exact count."""
        from .operators.sketches import hll_sketch
        return hll_sketch(self.table(table), col)

    def frequency_sketch(self, table: str, col: str) -> DataFrame:
        """Deterministic count-min per-value frequency estimates with
        the overestimate contract asserted in-query."""
        from .operators.sketches import cms_counts
        return cms_counts(self.table(table), col)

    def membership_filter(self, build_table: str, build_col: str,
                          probe_table: str, probe_col: str) -> DataFrame:
        """Deterministic Bloom filter: build word table over one
        column, broadcast-probe another (no false negatives)."""
        from .operators.sketches import bloom_build, bloom_probe
        return bloom_probe(
            bloom_build(self.table(build_table), build_col),
            self.table(probe_table), probe_col)

    def ingest_assets(self, path: str, glob: str | None = None) -> DataFrame:
        """Raw multimodal assets via the binaryFile source, normalized
        to (asset_id, payload) for the codec operators."""
        from .io import binary_assets_with_ids
        return binary_assets_with_ids(self.spark, path, glob)

    def correlation(self) -> DataFrame:
        """Per-returnflag Pearson correlation from exact integer
        moments (deterministic at any partitioning)."""
        from .plans.curation3 import q_pearson_qty_price
        return q_pearson_qty_price(self.spark, self.sf_dir)

    def price_outliers(self) -> DataFrame:
        """Tukey-fence event-value outliers (exact quartile cents)."""
        from .plans.curation3 import q_tukey_outlier_events
        return q_tukey_outlier_events(self.spark, self.sf_dir)

    # -- round-4 surface --------------------------------------------
    def pq_index(self, m_sub: int = 8, sub_dim: int = 8,
                 ks: int = 16) -> DataFrame:
        """PQ-encode the embedding table (vec_id, m, code) — the
        compressed ANN index build (Jégou et al. 2011)."""
        return similarity.pq_encode(self.table("embeddings"),
                                    m_sub=m_sub, sub_dim=sub_dim, ks=ks)

    def pq_search(self, query_id: int, k: int = 10) -> DataFrame:
        """PQ asymmetric-distance top-k over the encoded index."""
        return similarity.pq_adc_topk(self.table("embeddings"),
                                      query_id=query_id, k=k)

    def ivfpq_search(self, query_id: int, k: int = 10,
                     nprobe: int = 2) -> DataFrame:
        """IVF-PQ top-k: probe nprobe inverted lists, rank by ADC."""
        return similarity.ivf_pq_topk(self.table("embeddings"),
                                      query_id=query_id, k=k,
                                      nprobe=nprobe)

    def ann_quality(self, k: int = 3, sample_mod: int = 5) -> DataFrame:
        """Recall@k of the LSH kNN join vs exact kNN (sampled)."""
        return similarity.ann_recall(self.table("embeddings"),
                                     k=k, sample_mod=sample_mod)

    def hops_from_lowest(self, max_hops: int = 4) -> DataFrame:
        """BFS hop distances over the trade graph."""
        from .operators.graph import bfs_hops, supplier_customer_edges
        return bfs_hops(supplier_customer_edges(self.table("lineitem"),
                                                self.table("orders")),
                        max_hops=max_hops)

    def weighted_sample(self, n: int = 100,
                        weight_col: str = "n_chars") -> DataFrame:
        """Priority sample of documents (weighted, deterministic)."""
        from .operators.curation import priority_sample
        return priority_sample(self.table("documents"), n=n,
                               weight_col=weight_col)

    def lm_scores(self, order: int = 2) -> DataFrame:
        """Corpus-LM mean log-prob per doc (order 1 or 2)."""
        fn = (text.bigram_logprob if order == 2
              else text.unigram_logprob)
        return fn(self.table("documents"))

    def subword_counts(self) -> DataFrame:
        """Greedy subword piece counts (tokenizer cost model)."""
        return text.subword_piece_counts(self.table("documents"))

    def prune_by_membership(self, build_table: str, build_col: str,
                            df: DataFrame, col: str) -> DataFrame:
        """Bloom semi-join reduction: drop df rows whose col cannot
        be in build_table.build_col (no false negatives)."""
        from .operators.sketches import bloom_build, bloom_prune
        return bloom_prune(bloom_build(self.table(build_table),
                                       build_col), df, col)

    # -- round-5 surface --------------------------------------------
    def related_parts(self, k: int = 20,
                      max_degree: int = 200) -> DataFrame:
        """Link prediction on the co-purchase graph: top-k
        non-adjacent part pairs by common neighbors (cn / Jaccard /
        Resource-Allocation, all integer-exact)."""
        from .operators.graph import copurchase_edges, link_prediction
        from pyspark.sql import functions as F
        return (link_prediction(copurchase_edges(self.table("lineitem")),
                                max_degree=max_degree)
                .orderBy(F.col("cn").desc(), F.col("ra_e6").desc(),
                         "u", "v").limit(k))

    def language_model_labels(self) -> DataFrame:
        """Naive Bayes language predictions for every document
        (self-trained on the stopword heuristic's confident rows)."""
        return text.nb_lang_classifier(self.table("documents"))

    def collocations(self, min_count: int = 3, k: int = 30) -> DataFrame:
        """Top-k adjacent-token bigrams by PMI (phrase detection)."""
        return text.pmi_bigrams(self.table("documents"),
                                min_count=min_count, k=k)

    def drift_alerts(self, h_c: int = 2_000) -> DataFrame:
        """Per-user CUSUM drift detection over event values (window
        prefix-sum identity — no per-user collect)."""
        from .operators.eventflow import cusum_drift_alerts
        return cusum_drift_alerts(self.table("events"), h_c=h_c)

    def smoothed_values(self, tail: int = 64) -> DataFrame:
        """Per-user integer EWMA (α=1/2) of recent event values."""
        from .operators.eventflow import ewma_recent
        return ewma_recent(self.table("events"), tail=tail)

    def value_momentum(self) -> DataFrame:
        """Per-user lag-1 autocorrelation of event values."""
        from .operators.eventflow import autocorr_lag1
        return autocorr_lag1(self.table("events"))

    def hybrid_search(self, terms: list[str] | None = None,
                      query_doc: int = 0) -> DataFrame:
        """RRF fusion of BM25 and hash-embedding cosine rankings."""
        from .plans.round5 import q_retrieval_rrf_fusion
        return q_retrieval_rrf_fusion(self.spark, self.sf_dir)

    def winsorized_stats(self, lo_pct: int = 10,
                         hi_pct: int = 90) -> DataFrame:
        """Per-event-type exact nearest-rank winsorization audit."""
        from pyspark.sql import functions as F
        from .operators.quality import winsorize_groups
        v = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        return winsorize_groups(self.table("events"), "event_type", v,
                                "event_id", lo_pct=lo_pct,
                                hi_pct=hi_pct)

    def robust_outliers(self, k: int = 3) -> DataFrame:
        """Median/MAD outlier census per event type (robust twin of
        the 3σ rule)."""
        from pyspark.sql import functions as F
        from .operators.quality import mad_outliers
        v = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        return mad_outliers(self.table("events"), "event_type", v,
                            "event_id", k=k)

    def mixing_weights(self) -> DataFrame:
        """α=0.7 temperature source-mixing weights over documents."""
        from .operators.curation import temperature_mix
        return temperature_mix(self.table("documents"))

    def vocab_curve(self) -> DataFrame:
        """Vocab size covering 50/90/99% of token occurrences."""
        return text.vocab_coverage(self.table("documents"))

    def change_feed(self, old: DataFrame, new: DataFrame, key_col: str,
                    cmp_cols: list[str]) -> DataFrame:
        """Keyed I/U/D diff between two snapshots (CDC derivation)."""
        from .operators.joins import snapshot_diff
        return snapshot_diff(old, new, key_col, cmp_cols)

    def attribution(self, within_s: int = 86400) -> DataFrame:
        """Last-touch view→purchase attribution over events."""
        from .operators.eventflow import purchase_attribution
        return purchase_attribution(self.table("events"),
                                    within_s=within_s)

    def drift_report(self, part_cond) -> DataFrame:
        """Per-term chi-square drift between two corpus partitions."""
        return text.term_drift_chi2(self.table("documents"), part_cond)

    def price_model(self) -> DataFrame:
        """Two-feature OLS price fit (exact-moment normal equations)."""
        from .plans.round5 import q_ols_price_model
        return q_ols_price_model(self.spark, self.sf_dir)

    def frequent_pairs(self, min_support: int = 3,
                       k: int = 20) -> DataFrame:
        """Market-basket pair support/confidence/lift."""
        from .operators.graph import basket_lift_pairs
        return basket_lift_pairs(self.table("lineitem"),
                                 min_support=min_support, k=k)

    def skew_profile(self, table: str, key_col: str) -> DataFrame:
        """One-row join-key skew report (top key, p99, exact Gini)."""
        from .operators.scale import key_skew_report
        return key_skew_report(self.table(table), key_col)

    def zipf_exponent(self) -> DataFrame:
        """Corpus Zipf fit (quantized log-log OLS)."""
        return text.zipf_fit(self.table("documents"))

    def related_to(self, iters: int = 3) -> DataFrame:
        """Personalized PageRank from the lowest trade-graph node."""
        from .operators.graph import (personalized_pagerank,
                                      supplier_customer_edges)
        return personalized_pagerank(
            supplier_customer_edges(self.table("lineitem"),
                                    self.table("orders")),
            iters=iters)

    def training_triplets(self) -> DataFrame:
        """(anchor, positive, negative) triplets: near-dup positives,
        deterministic bucket-chain negatives."""
        from .operators import dedup
        from .operators.curation import contrastive_triplets
        docs = self.table("documents")
        return contrastive_triplets(
            docs, dedup.minhash_near_duplicates(docs))

    def distribution_shift(self, type_a: str = "purchase",
                           type_b: str = "view") -> DataFrame:
        """Integer-exact two-sample KS distance between event-type
        value distributions."""
        from pyspark.sql import functions as F
        from .operators.eventflow import ks_two_sample
        return ks_two_sample(self.table("events"),
                             F.col("event_type") == type_a,
                             F.col("event_type") == type_b)

    def benford_audit(self) -> DataFrame:
        """Benford first-digit audit of order totals."""
        from .operators.aggregations import benford_digits
        return benford_digits(self.table("orders"), "o_totalprice")

    def rank_test(self, type_a: str = "purchase",
                  type_b: str = "view") -> DataFrame:
        """Exact Mann-Whitney U + AUC between event-type values."""
        from pyspark.sql import functions as F
        from .operators.eventflow import mann_whitney_u
        return mann_whitney_u(self.table("events"),
                              F.col("event_type") == type_a,
                              F.col("event_type") == type_b)

    def experiment_readout(self) -> DataFrame:
        """Two-proportion conversion z-test between A/B arms."""
        from .operators.eventflow import ab_conversion_ztest
        return ab_conversion_ztest(self.table("events"))

    def spearman(self, group_col: str = "l_returnflag") -> DataFrame:
        """Tie-correct Spearman rho of quantity vs price per group."""
        from pyspark.sql import functions as F
        from .operators.eventflow import spearman_by_group
        return spearman_by_group(
            self.table("lineitem"), group_col,
            F.floor("l_quantity"),
            F.floor(F.col("l_extendedprice") * 100))

    def psi_drift_report(self) -> DataFrame:
        """PSI value-drift audit across the mid-month split. (Renamed
        from `drift_report` — it shadowed the chi-square term-drift
        facade method at Engine.drift_report.)"""
        from .operators.eventflow import psi_value_drift
        return psi_value_drift(self.table("events"))

    def seasonality(self) -> DataFrame:
        """Hour-of-day profile of event values (exact cents)."""
        from .operators.eventflow import hourly_profile
        return hourly_profile(self.table("events"))

    def seasonal_anomalies(self, k: int = 20) -> DataFrame:
        """Top-k events by deviation from their hour-of-day mean."""
        from .operators.eventflow import seasonal_deviation_topk
        return seasonal_deviation_topk(self.table("events"), k)

    def peak_concurrency(self, duration_s: int = 300) -> DataFrame:
        """Sweep-line peak concurrency per event type."""
        from .operators.eventflow import max_concurrency_by_type
        return max_concurrency_by_type(self.table("events"), duration_s)

    def target_encoding(self, m: int = 10) -> DataFrame:
        """Smoothed mean encoding of c_mktsegment by order total."""
        from pyspark.sql import functions as F
        from .operators.curation import target_encode
        orders = self.table("orders").select(
            F.col("o_custkey").alias("c_custkey"),
            F.floor(F.col("o_totalprice") * 100)
             .cast("long").alias("cents"))
        return target_encode(orders, self.table("customer"),
                             "c_custkey", "c_mktsegment",
                             F.col("cents"), m)

    def diversified_docs(self, per_lang: int = 3, k: int = 20) -> DataFrame:
        """Diversity-capped top-k documents by length."""
        from .operators.topk import diversified_topk
        return diversified_topk(
            self.table("documents").select("doc_id", "lang", "n_chars"),
            "lang", "n_chars", "doc_id", per_lang, k)

    def survival_curve(self, target: str = "purchase") -> DataFrame:
        """Kaplan-Meier time-to-first-target survival per user."""
        from .operators.eventflow import kaplan_meier
        return kaplan_meier(self.table("events"), target)

    def forecast_backtest(self) -> DataFrame:
        """Seasonal-naive WMAPE backtest per event type."""
        from .operators.eventflow import wmape_seasonal_naive
        return wmape_seasonal_naive(self.table("events"))

    def k_core_parts(self, k: int = 3, rounds: int = 6) -> DataFrame:
        """k-core of the part co-purchase graph."""
        from .operators.graph import copurchase_edges, k_core
        return k_core(copurchase_edges(self.table("lineitem")),
                      k=k, rounds=rounds)

    def assortativity(self) -> DataFrame:
        """Degree assortativity of the co-purchase graph."""
        from .operators.graph import copurchase_edges, degree_assortativity
        return degree_assortativity(
            copurchase_edges(self.table("lineitem")))

    def recommendations(self, top_n: int = 5) -> DataFrame:
        """Item-item CF cosine top-N per part."""
        from .operators.graph import item_item_cosine
        return item_item_cosine(self.table("lineitem"), top_n)

    def keywords(self, k: int = 30) -> DataFrame:
        """TextRank corpus keywords."""
        from .operators.text import textrank_keywords
        return textrank_keywords(self.table("documents"), k=k)

    def readability_scores(self) -> DataFrame:
        """Flesch reading ease per document."""
        from .operators.text import readability
        return readability(self.table("documents"))

    def source_divergence(self, a: str = "src0",
                          b: str = "src1") -> DataFrame:
        """Jensen-Shannon divergence between two sources' unigrams."""
        from .operators.text import js_divergence_sources
        return js_divergence_sources(self.table("documents"), a, b)

    def privacy_audit(self, k: int = 5) -> DataFrame:
        """k-anonymity / l-diversity audit of customer QI classes."""
        from pyspark.sql import functions as F
        from .operators.quality import k_anonymity
        cust = self.table("customer").select(
            "c_nationkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
             .cast("long").alias("acct_cents"))
        return k_anonymity(cust, ("c_nationkey", "c_mktsegment"),
                           "acct_cents", k)

    def inequality(self) -> DataFrame:
        """Theil T inequality of event values per type."""
        from pyspark.sql import functions as F
        from .operators.aggregations import theil_index
        return theil_index(self.table("events"), "event_type",
                           F.floor(F.col("value") * 100 + F.lit(0.5)))

    def lorenz(self) -> DataFrame:
        """Lorenz concentration deciles of per-user spend."""
        from .operators.eventflow import lorenz_deciles
        return lorenz_deciles(self.table("events"))

    def trend_forecast(self) -> DataFrame:
        """Holt level+trend one-step forecast per user."""
        from .operators.eventflow import holt_trend
        return holt_trend(self.table("events"))

    def classifier_calibration(self) -> DataFrame:
        """NB language-classifier reliability diagram."""
        from .operators.text import calibration_bins
        return calibration_bins(self.table("documents"))

    def fertility(self) -> DataFrame:
        """Subword fertility per language."""
        from .operators.text import tokenizer_fertility
        return tokenizer_fertility(self.table("documents"))

    def dedup_cluster_histogram(self) -> DataFrame:
        """Near-dup cluster-size distribution incl. singletons."""
        from .plans.round6 import q_dedup_cluster_sizes
        return q_dedup_cluster_sizes(self.spark, self.sf_dir)

    def vector_hygiene(self) -> DataFrame:
        """mapInArrow per-vector L2 norm / max-abs scan."""
        from .operators.arrowops import embedding_norms
        return embedding_norms(self.table("embeddings"))

    def centroids(self) -> DataFrame:
        """applyInArrow exact integer centroid accumulators."""
        from .operators.arrowops import label_centroids
        return label_centroids(self.table("embeddings"))

    def burstiness(self) -> DataFrame:
        """Fano factor of hourly event counts per type."""
        from .operators.eventflow import fano_factor
        return fano_factor(self.table("events"))

    def ltv(self) -> DataFrame:
        """Cohort LTV triangle with integer per-user averages."""
        from .operators.eventflow import cohort_ltv
        return cohort_ltv(self.table("events"))

    def feature_correlations(self) -> DataFrame:
        """One-scan 3x3 Pearson matrix over lineitem features."""
        from pyspark.sql import functions as F
        from .operators.aggregations import corr_matrix3
        return corr_matrix3(
            self.table("lineitem"), F.floor("l_quantity"),
            F.floor(F.col("l_extendedprice") * 100),
            F.floor(F.col("l_discount") * 100),
            ("qty", "price", "disc"))

    def concordance(self, term: str = "the") -> DataFrame:
        """Keyword-in-context snippets for a term."""
        from .operators.text import kwic
        return kwic(self.table("documents"), term)

    def hubs_and_authorities(self) -> DataFrame:
        """HITS over the supplier->customer trade graph."""
        from .plans.round6 import q_hits_trade
        return q_hits_trade(self.spark, self.sf_dir)

    def seasonal_decomposition(self) -> DataFrame:
        """STL-lite trend/seasonal/residual of hourly values."""
        from .operators.eventflow import stl_lite
        return stl_lite(self.table("events"))

    def class_separability(self) -> DataFrame:
        """Cosine matrix between label centroids."""
        from .operators.arrowops import centroid_cosine
        return centroid_cosine(self.table("embeddings"))

    def vocabulary_manifest(self) -> DataFrame:
        """df-band vocabulary pruning manifest."""
        from .operators.text import vocab_prune
        return vocab_prune(self.table("documents"))

    def clustering(self) -> DataFrame:
        """Local clustering coefficients on the co-purchase graph."""
        from .operators.graph import (clustering_coefficient,
                                      copurchase_edges)
        return clustering_coefficient(
            copurchase_edges(self.table("lineitem")))

    def seasonal_anomaly_buckets(self) -> DataFrame:
        """Hour buckets whose STL residual exceeds 3x the MAD."""
        from .plans.round6 import q_stl_anomaly_buckets
        return q_stl_anomaly_buckets(self.spark, self.sf_dir)

    def affinity_paths(self) -> DataFrame:
        """Bounded Bellman-Ford with co-purchase affinity costs."""
        from .plans.round6 import q_weighted_paths_parts
        return q_weighted_paths_parts(self.spark, self.sf_dir)

    def funnel_latencies(self) -> DataFrame:
        """Median seconds between consecutive funnel stages."""
        from .operators.eventflow import stage_transition_medians
        return stage_transition_medians(self.table("events"))

    def curriculum(self) -> DataFrame:
        """Quality-banded deterministic curriculum order."""
        from .operators.curation import curriculum_order
        return curriculum_order(self.table("documents"))

    def packing_audit(self, seq_len: int = 64) -> DataFrame:
        """Histogram of per-sequence token fill after packing."""
        from pyspark.sql import functions as F
        from .operators.curation import packing_fill_histogram
        from .operators.text import tokens
        nt = self.table("documents").select(
            F.col("doc_id"),
            F.size(tokens("text")).cast("long").alias("n_tokens"))
        return packing_fill_histogram(nt, seq_len=seq_len)

    def ingest_dedup(self, new_source: str = "src9") -> DataFrame:
        """Batch-vs-corpus MinHash near-dup pairs."""
        from pyspark.sql import functions as F
        from .operators.dedup import incremental_near_duplicates
        return incremental_near_duplicates(
            self.table("documents"), F.col("source") == new_source)

    def reduce_dims(self, out_dim: int = 16) -> DataFrame:
        """Deterministic JL projection of embeddings."""
        from .operators.similarity import jl_project
        return jl_project(self.table("embeddings"), out_dim)

    def survival_ab_test(self) -> DataFrame:
        """Log-rank test between A/B arms' conversion latency."""
        from .operators.eventflow import logrank_test
        return logrank_test(self.table("events"))

    def script_report(self) -> DataFrame:
        """Unicode script composition per document."""
        from .operators.text import script_mix
        return script_mix(self.table("documents"))

    def gap_profile(self) -> DataFrame:
        """Log2 inter-event gap histogram."""
        from .operators.eventflow import interevent_gap_histogram
        return interevent_gap_histogram(self.table("events"))

    def top_order_per_customer(self) -> DataFrame:
        """Correlated LATERAL top-1 order per customer."""
        from .plans.round6 import q_lateral_top_order
        return q_lateral_top_order(self.spark, self.sf_dir)

    def trailing_revenue(self) -> DataFrame:
        """RANGE-frame trailing 7-day revenue per order day."""
        from .plans.round6 import q_range_window_weekly_revenue
        return q_range_window_weekly_revenue(self.spark, self.sf_dir)

    def ingest_gate(self) -> DataFrame:
        """Nightly accept list: quality + dedup gates for src9."""
        from .plans.round6 import q_ingest_accept_list
        return q_ingest_accept_list(self.spark, self.sf_dir)

    def journeys(self, k: int = 20) -> DataFrame:
        """Top-k 3-step behavior sequences."""
        from .operators.eventflow import top_trigram_journeys
        return top_trigram_journeys(self.table("events"), k)

    def vector_outliers(self) -> DataFrame:
        """Within-class centroid-distance embedding outliers."""
        from .operators.arrowops import embedding_outliers
        return embedding_outliers(self.table("embeddings"))

    def subdocument_dups(self) -> DataFrame:
        """Asymmetric containment near-dup pairs."""
        from .operators.dedup import containment_duplicates
        return containment_duplicates(self.table("documents"))

    def stickiness(self) -> DataFrame:
        """DAU / trailing WAU / stickiness per observed day."""
        from .operators.eventflow import dau_wau_stickiness
        return dau_wau_stickiness(self.table("events"))

    def hapax_report(self) -> DataFrame:
        """Per-source hapax legomena ratio."""
        from .operators.text import hapax_ratio_by_source
        return hapax_ratio_by_source(self.table("documents"))

    def mean_with_ci(self, n_boot: int = 40) -> DataFrame:
        """Deterministic Poisson-bootstrap CI of the mean order
        value."""
        from pyspark.sql import functions as F
        from .operators.sampling import bootstrap_mean_ci
        return bootstrap_mean_ci(
            self.table("orders"), "o_orderkey",
            F.floor(F.col("o_totalprice") * 100), n_boot)

    def retrieval_quality(self) -> DataFrame:
        """MRR / nDCG@10 of the BM25 ranker."""
        from .plans.round6 import q_retrieval_eval
        return q_retrieval_eval(self.spark, self.sf_dir)

    def robust_mean(self, k_groups: int = 32) -> DataFrame:
        """Median-of-means robust mean of event values."""
        from pyspark.sql import functions as F
        from .operators.aggregations import median_of_means
        return median_of_means(
            self.table("events"), "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)), k_groups)

    def vocab_overlap(self) -> DataFrame:
        """MinHash vs exact Jaccard between source vocabularies."""
        from .operators.sketches import source_vocab_jaccard
        return source_vocab_jaccard(self.table("documents"))

    def forecast_intervals(self) -> DataFrame:
        """Split-conformal interval half-widths per event type."""
        from .operators.eventflow import conformal_forecast_intervals
        return conformal_forecast_intervals(self.table("events"))

    def churn(self, inactive_days: int = 7) -> DataFrame:
        """Per-arm churn rates under an inactivity horizon."""
        from .operators.eventflow import churn_labels
        return churn_labels(self.table("events"), inactive_days)

    def robust_price_mean(self) -> DataFrame:
        """10% trimmed mean of extended price per returnflag."""
        from pyspark.sql import functions as F
        from .operators.aggregations import trimmed_mean
        return trimmed_mean(self.table("lineitem"), "l_returnflag",
                            F.floor(F.col("l_extendedprice") * 100))

    def revenue_features(self) -> DataFrame:
        """Lag-feature table for revenue forecasting."""
        from .plans.round6 import q_daily_revenue_features
        return q_daily_revenue_features(self.spark, self.sf_dir)

    def first_touch(self) -> DataFrame:
        """First-touch purchase attribution."""
        from .operators.eventflow import first_touch_attribution
        return first_touch_attribution(self.table("events"))

    def session_durations(self) -> DataFrame:
        """Log2 histogram of gap-session durations."""
        from .operators.eventflow import session_duration_histogram
        return session_duration_histogram(self.table("events"))

    def comovement(self, window_days: int = 14) -> DataFrame:
        """Trailing-window correlation of view vs purchase totals."""
        from .operators.eventflow import rolling_corr_daily
        return rolling_corr_daily(self.table("events"),
                                  window_days=window_days)

    def nearest_order(self) -> DataFrame:
        """Two-sided nearest-in-time order per purchase event."""
        from .plans.round6 import q_nearest_order_per_event
        return q_nearest_order_per_event(self.spark, self.sf_dir)

    def readability_by_language(self) -> DataFrame:
        """Mean Flesch reading ease per gold language."""
        from .plans.round6 import q_readability_by_lang
        return q_readability_by_lang(self.spark, self.sf_dir)

    def wau_sketches(self) -> DataFrame:
        """Sliding-window HLL WAU maintenance proof + exact WAU."""
        from .operators.sketches import sliding_hll_wau
        return sliding_hll_wau(self.table("events"))

    def top_orders_ties(self) -> DataFrame:
        """rank()-with-ties top-10 orders."""
        from .plans.round6 import q_top_orders_with_ties
        return q_top_orders_with_ties(self.spark, self.sf_dir)

    def session_associations(self) -> DataFrame:
        """PMI between event types co-occurring in sessions."""
        from .operators.eventflow import session_type_pmi
        return session_type_pmi(self.table("events"))

    def pareto_orders(self) -> DataFrame:
        """2-D skyline: orders undominated on (date, value)."""
        from .plans.round6 import q_skyline_orders
        return q_skyline_orders(self.spark, self.sf_dir)

    def anova(self) -> DataFrame:
        """One-way ANOVA F of event values across types."""
        from pyspark.sql import functions as F
        from .operators.aggregations import anova_oneway
        return anova_oneway(self.table("events"), "event_type",
                            F.floor(F.col("value") * 100 + F.lit(0.5)))

    def value_fingerprint(self) -> DataFrame:
        """Exact ECDF at the fixed cents grid per event type."""
        from pyspark.sql import functions as F
        from .operators.aggregations import ecdf_at_points
        return ecdf_at_points(self.table("events"), "event_type",
                              F.floor(F.col("value") * 100 + F.lit(0.5)))

    def mean_difference_test(self) -> DataFrame:
        """Welch's t between A/B arms' event values."""
        from .operators.eventflow import welch_t_value
        return welch_t_value(self.table("events"))

    def dispersion(self) -> DataFrame:
        """Coefficient of variation per event type."""
        from pyspark.sql import functions as F
        from .operators.aggregations import cv_by_group
        return cv_by_group(self.table("events"), "event_type",
                           F.floor(F.col("value") * 100 + F.lit(0.5)))

    def association(self) -> DataFrame:
        """Cramér's V between event type and A/B arm."""
        from .plans.round6 import q_cramers_v_type_arm
        return q_cramers_v_type_arm(self.spark, self.sf_dir)

    def cluster_purity(self) -> DataFrame:
        """Gini label impurity per k-means cluster."""
        from .plans.round6 import q_cluster_label_impurity
        return q_cluster_label_impurity(self.spark, self.sf_dir)

    def variance_homogeneity(self) -> DataFrame:
        """Brown-Forsythe F across event types."""
        from .operators.eventflow import brown_forsythe
        return brown_forsythe(self.table("events"))

    def randomness_check(self) -> DataFrame:
        """Wald-Wolfowitz runs test on daily totals per type."""
        from .operators.eventflow import runs_test_daily
        return runs_test_daily(self.table("events"))

    def rank_anova(self) -> DataFrame:
        """Tie-corrected Kruskal-Wallis H across event types."""
        from .operators.eventflow import kruskal_wallis
        return kruskal_wallis(self.table("events"))

    def effect_size(self) -> DataFrame:
        """Cohen's d between A/B arms' event values."""
        from .operators.eventflow import cohens_d_arms
        return cohens_d_arms(self.table("events"))

    def normality_test(self) -> DataFrame:
        """Jarque-Bera skew/kurtosis normality per event type."""
        from .operators.eventflow import jarque_bera_by_type
        return jarque_bera_by_type(self.table("events"))

    def rank_concordance(self) -> DataFrame:
        """Kendall tau-b between daily view and purchase counts."""
        from .operators.eventflow import kendall_tau_daily
        return kendall_tau_daily(self.table("events"))

    def blocked_rank_test(self) -> DataFrame:
        """Tie-corrected Friedman test over the day×type grid."""
        from .operators.eventflow import friedman_daily_types
        return friedman_daily_types(self.table("events"))

    def best_split(self, label_cond=None) -> DataFrame:
        """Depth-1 Gini decision stump on event value."""
        from pyspark.sql import functions as F
        from .operators.eventflow import decision_stump
        cond = (label_cond if label_cond is not None
                else F.col("event_type").eqNullSafe("purchase"))
        return decision_stump(self.table("events"), cond)

    def revenue_drawdown(self) -> DataFrame:
        """Max drawdown of daily revenue per nation."""
        from .operators.eventflow import max_drawdown_daily
        return max_drawdown_daily(self.table("orders"),
                                  self.table("customer"),
                                  self.table("nation"))

    def kmv_distinct_sketch(self, table: str = "orders",
                            col: str = "o_custkey") -> DataFrame:
        """KMV(64) distinct-cardinality estimate vs exact. (Renamed from
        `distinct_sketch` — it shadowed the HLL facade method; see
        VERDICT r3 #3.)"""
        from .operators.sketches import kmv_distinct
        return kmv_distinct(self.table(table), col)

    def phrase_search(self, phrase: str) -> DataFrame:
        """Quoted-phrase hit counts over the document corpus."""
        from .operators.text import phrase_hits
        return phrase_hits(self.table("documents"), phrase)

    def shard_manifest(self, target_bytes: int = 1 << 14) -> DataFrame:
        """Deterministic output-shard plan for the corpus."""
        from pyspark.sql import functions as F
        from .operators.scale import shard_plan
        return shard_plan(self.table("documents"), F.length("text"),
                          target_bytes=target_bytes)

    def correlogram(self, max_lag: int = 7) -> DataFrame:
        """ACF of daily value totals at lags 1..max_lag."""
        from .operators.eventflow import acf_daily_totals
        return acf_daily_totals(self.table("events"), max_lag)

    def robust_trend(self) -> DataFrame:
        """Theil-Sen slope of daily value totals."""
        from .operators.eventflow import theil_sen_daily
        return theil_sen_daily(self.table("events"))

    def trend_test(self) -> DataFrame:
        """Mann-Kendall monotone-trend test on daily totals."""
        from .operators.eventflow import mann_kendall_trend
        return mann_kendall_trend(self.table("events"))

    def type_uniformity(self) -> DataFrame:
        """Chi-square GOF of the event-type histogram vs uniform."""
        from .operators.eventflow import chi2_gof_types
        return chi2_gof_types(self.table("events"))

    def activity_streaks(self) -> DataFrame:
        """Per-user consecutive-active-day streak features."""
        from .operators.eventflow import active_day_islands
        return active_day_islands(self.table("events"))

    def quantile_normalize(self) -> DataFrame:
        """Cross-type quantile-normalization mapping for values."""
        from pyspark.sql import functions as F
        from .operators.quality import quantile_normalize_map
        return quantile_normalize_map(
            self.table("events"), "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))

    def communities(self, rounds: int = 3) -> DataFrame:
        """Deterministic LPA communities on the co-purchase graph."""
        from .operators.graph import copurchase_edges, lpa_communities
        return lpa_communities(copurchase_edges(self.table("lineitem")),
                               rounds=rounds, edges_canonical=True)

    def posthoc_pairs(self) -> DataFrame:
        """Pairwise Welch t between every event-type pair."""
        from .operators.eventflow import pairwise_welch_matrix
        return pairwise_welch_matrix(self.table("events"))

    def training_mix_plan(self) -> DataFrame:
        """Temperature-weighted epoch-capped token budget by source."""
        from .operators.curation import token_budget_allocation
        return token_budget_allocation(self.table("documents"))

    def near_dups_prefix_filtered(self) -> DataFrame:
        """Lossless prefix-filtered n-gram Jaccard near-dup pairs."""
        from .operators.dedup import ngram_jaccard_pairs
        return ngram_jaccard_pairs(self.table("documents"))

    def shard_routing(self, n_nodes: int = 4,
                      vnodes: int = 8) -> DataFrame:
        """Consistent-hash ring load audit for document keys."""
        from .operators.scale import consistent_hash_routing
        return consistent_hash_routing(self.table("documents"),
                                       n_nodes=n_nodes, vnodes=vnodes)

    def multi_touch_attribution(self) -> DataFrame:
        """Linear (equal-credit) pre-purchase view attribution."""
        from .operators.eventflow import linear_attribution
        return linear_attribution(self.table("events"))

    def treatment_effect(self) -> DataFrame:
        """Difference-in-differences across arms and the cutover."""
        from .operators.eventflow import diff_in_diff
        return diff_in_diff(self.table("events"))

    def cumulative_hazard(self, target: str = "purchase") -> DataFrame:
        """Nelson-Aalen cumulative hazard of time-to-target."""
        from .operators.eventflow import nelson_aalen
        return nelson_aalen(self.table("events"), target)

    def level_shift(self) -> DataFrame:
        """Best single changepoint of the daily value series."""
        from .operators.eventflow import changepoint_daily
        return changepoint_daily(self.table("events"))

    def order_quartiles(self) -> DataFrame:
        """Exact interpolated quartiles of order totals."""
        from pyspark.sql import functions as F
        from .operators.aggregations import percentile_cont_quartiles
        return percentile_cont_quartiles(
            self.table("orders"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))

    def trending(self, k: int = 20) -> DataFrame:
        """Decay-weighted trending terms over ingest batches."""
        from pyspark.sql import functions as F
        from .operators.text import trending_terms
        return trending_terms(self.table("documents"),
                              F.expr("doc_id div 50"), k=k)

    def bandit_scores(self) -> DataFrame:
        """UCB1 allocation scores per event-type arm."""
        from .operators.eventflow import ucb_arm_scores
        return ucb_arm_scores(self.table("events"))

    def rate_test(self) -> DataFrame:
        """Two-sample event-rate (Poisson/binomial) test by arm."""
        from .operators.eventflow import poisson_rate_test
        return poisson_rate_test(self.table("events"))

    def churn_hazard(self) -> DataFrame:
        """Discrete churn hazard by tenure week."""
        from .operators.eventflow import churn_hazard_by_tenure
        return churn_hazard_by_tenure(self.table("events"))

    def graph_powerlaw(self) -> DataFrame:
        """Degree-distribution power-law exponent (co-purchase)."""
        from .operators.graph import copurchase_edges, degree_powerlaw
        return degree_powerlaw(copurchase_edges(self.table("lineitem")))

    def smoothed_daily(self) -> DataFrame:
        """7-day rolling median of daily value totals."""
        from .operators.eventflow import rolling_median_daily
        return rolling_median_daily(self.table("events"))

    def distribution_fit(self) -> DataFrame:
        """Lognormal + gamma method-of-moments fits of values."""
        from .operators.eventflow import lognormal_gamma_fit
        return lognormal_gamma_fit(self.table("events"))

    def calendar_heatmap(self) -> DataFrame:
        """DOW × hour activity matrix."""
        from .operators.eventflow import dow_hour_heatmap
        return dow_hour_heatmap(self.table("events"))

    def journey_similarity(self) -> DataFrame:
        """Edit distance between adjacent users' journeys."""
        from .operators.eventflow import journey_edit_distance
        return journey_edit_distance(self.table("events"))

    def outlier_votes(self) -> DataFrame:
        """3-detector outlier consensus histogram."""
        from .operators.eventflow import outlier_consensus
        return outlier_consensus(self.table("events"))
