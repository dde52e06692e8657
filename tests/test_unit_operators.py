"""Unit tests for edge cases the oracle can't isolate (SURVEY §5.2):
null coalescing placement, threshold boundaries, keep-last ties,
value-only nested rewrite, merge-aggregate identity, multimodal stubs."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F, types as T

from bigdata_project_hust_spark.functions.scalar import (
    influence_score, rewrite_values_nested, stable_hash64)
from bigdata_project_hust_spark.operators import multimodal
from bigdata_project_hust_spark.operators.aggregations import (
    author_engagement, merge_aggregate, value_counts)
from bigdata_project_hust_spark.operators.joins import keep_last
from bigdata_project_hust_spark.operators.projections import kol_filter
from bigdata_project_hust_spark.operators.topk import top_k


def test_influence_score_nulls_to_zero(spark):
    df = spark.createDataFrame(
        [(None, None, None), (100, 10, 5), (None, 10, None)],
        "followers int, statuses int, friends int")
    out = df.select(influence_score("followers", "statuses", "friends")
                    .alias("s")).collect()
    assert [r.s for r in out] == [0.0, 100 * 0.5 + 10 * 0.3 - 5 * 0.2, 3.0]


def test_kol_threshold_boundary_is_inclusive(spark):
    # reference consumer1.py:136 uses >= — 50.0 is a KOL, 49.9 is not
    df = spark.createDataFrame([(1, 49.9), (2, 50.0), (3, 50.1)],
                               "id int, influence_score double")
    kept = sorted(r.id for r in kol_filter(df).collect())
    assert kept == [2, 3]


def test_rewrite_nested_values_only(spark):
    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("arr", T.ArrayType(T.StringType())),
        T.StructField("m", T.MapType(T.StringType(), T.StringType())),
        T.StructField("st", T.StructType([
            T.StructField("twitter", T.StringType()),  # field NAME untouched
            T.StructField("n", T.IntegerType()),
        ])),
    ])
    df = spark.createDataFrame([Row(
        s="join twitter now", arr=["twitter", "ok"],
        m={"twitter": "Twitter rules"},  # key untouched, value rewritten
        st=Row(twitter="on twitter", n=7))], schema)
    out = df.select(*[
        rewrite_values_nested(F.col(f.name), f.dataType).alias(f.name)
        for f in schema.fields]).collect()[0]
    assert out.s == "join x now"
    assert out.arr == ["x", "ok"]
    assert out.m == {"twitter": "X rules"}          # key survives verbatim
    assert out.st.twitter == "on x" and out.st.n == 7


def test_keep_last_deterministic_on_ts_ties(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b"), (1, 9, "c"), (2, 5, "d")],
        "user_id int, ts int, tag string")
    df = df.withColumn("event_id",
                       F.when(F.col("tag") == "a", 100).otherwise(200))
    out = {r.user_id: r.tag for r in
           keep_last(df, ["user_id"], "ts", "event_id").collect()}
    assert out[1] == "b"  # ts tie → higher event_id wins
    assert out[2] == "d"


def test_author_engagement_all_null_group_is_zero(spark):
    # reference consumer2.py:184-191: `or 0` inside the loop → an
    # all-null group sums AND maxes to 0 (not null)
    df = spark.createDataFrame(
        [("u1", None), ("u1", None), ("u2", 7)], "author string, views int")
    out = {r.author: r for r in
           author_engagement(df, "author", ["views"]).collect()}
    assert out["u1"].total_views == 0 and out["u1"].max_views == 0
    assert out["u2"].total_views == 7 and out["u2"].max_views == 7
    assert out["u1"].total_tweets == 2


def test_value_counts_skips_nulls(spark):
    df = spark.createDataFrame([("x",), (None,), ("x",), ("y",)],
                               "loc string")
    out = {r.loc: r.cnt for r in value_counts(df, "loc").collect()}
    assert out == {"x": 2, "y": 1}


def test_merge_aggregate_equals_recompute(spark):
    rows = [("a", 1.0), ("a", 5.0), ("b", 2.0), ("b", None), ("c", 4.0)]
    df = spark.createDataFrame(rows, "k string, v double")

    def agg_of(d):
        return d.groupBy("k").agg(
            F.count("*").alias("cnt"),
            F.sum(F.coalesce("v", F.lit(0.0))).alias("sv"),
            F.max(F.coalesce("v", F.lit(0.0))).alias("mv"))

    b0, b1 = agg_of(df.limit(2)), agg_of(df.subtract(df.limit(2)))
    # note: limit/subtract split is fine on this tiny exact-distinct fixture
    merged = {r.k: r for r in merge_aggregate(
        b0, b1, "k", ["sv"], ["mv"], "cnt").collect()}
    full = {r.k: r for r in agg_of(df).collect()}
    assert set(merged) == set(full)
    for k in full:
        assert merged[k].cnt == full[k].cnt
        assert merged[k].sv == pytest.approx(full[k].sv)
        assert merged[k].mv == full[k].mv


def test_top_k_tiebreak(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 10.0), (3, 10.0), (4, 9.0)],
                               "id int, v double")
    out = [r.id for r in top_k(df, "v", 2, tiebreak_col="id").collect()]
    assert out == [1, 2]


def test_stable_hash64_matches_duckdb(spark):
    import duckdb
    df = spark.createDataFrame([("hello world",), ("ключ",)], "s string")
    got = [r.h for r in df.select(stable_hash64("s", 7).alias("h")).collect()]
    want = [duckdb.connect().execute(
        "SELECT ('0x' || substr(md5('7:' || ?), 1, 15))::BIGINT", [s]
    ).fetchone()[0] for s in ("hello world", "ключ")]
    assert got == want


def test_multimodal_extract_features_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "image", b"\x00\x01payload"), (2, "image", None)],
        "asset_id long, kind string, payload binary")
    out = {r.asset_id: r for r in
           multimodal.extract_features(df, fake=True).collect()}
    assert out[1].n_bytes == 9 and out[2].n_bytes == 0
    assert len(out[1].feature) == multimodal.FEATURE_DIM
    assert all(0.0 <= x < 1.0 for x in out[1].feature)
    # deterministic across invocations
    again = multimodal.extract_features(df, fake=True).collect()
    assert {r.asset_id: r.feature for r in again}[1] == out[1].feature


def test_multimodal_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"zz")


def _wav_bytes(sr=8000, ch=1, sw=2, seconds=0.25, freq=440.0) -> bytes:
    """Real PCM WAV bytes, generated with the stdlib writer."""
    import io
    import math
    import wave
    n = int(sr * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(sw)
        w.setframerate(sr)
        full = (1 << (8 * sw - 1)) - 1
        frames = bytearray()
        for i in range(n):
            v = int(0.5 * full * math.sin(2 * math.pi * freq * i / sr))
            for _ in range(ch):
                if sw == 1:
                    frames.append((v >> 8) + 128 & 0xFF)
                else:
                    frames += int(v).to_bytes(sw, "little", signed=True)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_multimodal_real_wav_codec(spark):
    """The audio path uses a REAL codec (stdlib wave + numpy): correct
    container metadata, an energy-bearing feature vector, deterministic
    output, and per-asset corruption isolation (ok=false row, not a
    failed job)."""
    rows = [(1, _wav_bytes(sr=8000, ch=1, sw=2)),
            (2, _wav_bytes(sr=16000, ch=2, sw=1, seconds=0.1)),
            (3, b"definitely not a wav file"),
            (4, None)]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r.asset_id: r for r in
           multimodal.extract_audio_features(df).collect()}
    assert out[1].ok and out[1].sample_rate == 8000 \
        and out[1].n_channels == 1 and out[1].n_frames == 2000 \
        and abs(out[1].duration_s - 0.25) < 1e-9
    assert out[2].ok and out[2].sample_rate == 16000 \
        and out[2].n_channels == 2
    # a 440 Hz sine at half amplitude: rms ≈ 0.5/sqrt(2), spectral
    # energy concentrated in the lowest band
    feat = out[1].feature
    assert len(feat) == multimodal.FEATURE_DIM
    assert abs(feat[0] - 0.5 / 2 ** 0.5) < 0.01        # rms
    assert feat[4] > 0.9                               # band-0 energy
    assert not out[3].ok and "Error" in out[3].err
    assert not out[4].ok
    again = {r.asset_id: r.feature for r in
             multimodal.extract_audio_features(df).collect()}
    assert again[1] == feat  # deterministic


def test_multimodal_frame_sampling(spark):
    df = spark.createDataFrame([(1, "video", b"x" * 64)],
                               "asset_id long, kind string, payload binary")
    frames = multimodal.sample_frames(df, every_n=2).collect()
    assert [f.frame_no for f in frames] == [0, 2]


def test_pii_scrub_and_url_extract(spark):
    """Crafted-PII coverage (the synthetic fixtures contain no real
    emails/phones, so the sf0.001 oracle-parity run alone can't
    exercise the patterns): exact redaction behavior, category counts
    on the original text, overlap semantics (an SSN-shaped string also
    counts as a phone-shaped run but is scrubbed once, as <SSN>), and
    cross-engine parity of the generated DuckDB oracle on the same
    crafted rows."""
    from bigdata_project_hust_spark.operators import text as text_ops
    from bigdata_project_hust_spark.plans.queries import _oracle_pii
    rows = [
        (1, "mail john.doe+x@example.co.uk or call +1 (555) 123-4567 now"),
        (2, "host 192.168.0.1 ssn 123-45-6789 see "
            "https://example.com/a?b=1 and http://x.io"),
        (3, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text_ops.pii_scrub(df).collect()}
    assert "<EMAIL>" in out[1].scrubbed and "john" not in out[1].scrubbed
    assert "<PHONE>" in out[1].scrubbed
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert "<IP>" in out[2].scrubbed and "<SSN>" in out[2].scrubbed
    assert out[2].n_ipv4 == 1 and out[2].n_ssn == 1
    assert out[2].n_phone == 1  # the SSN string, counted independently
    assert out[2].scrubbed.count("<PHONE>") == 0  # scrubbed as <SSN> first
    assert out[3].scrubbed == rows[2][1] and out[3].n_email == 0

    got_urls = {(r.doc_id, r.url_no): r.url
                for r in text_ops.extract_urls(df).collect()}
    assert got_urls == {(2, 0): "https://example.com/a?b=1",
                        (2, 1): "http://x.io"}

    # cross-engine: the DuckDB oracle produces identical rows
    import duckdb
    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    con.execute(
        f"CREATE TABLE documents AS SELECT * FROM (VALUES {vals}) "
        "t(doc_id, text)")
    duck = {r[0]: r for r in con.execute(_oracle_pii()).fetchall()}
    for i in (1, 2, 3):
        assert tuple(out[i]) == duck[i]


def test_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee: any shared token run of >= w+k-1 (= 6)
    tokens yields at least one shared fingerprint; docs shorter than k
    tokens still produce exactly one fingerprint."""
    from bigdata_project_hust_spark.operators.text import winnow_fingerprints
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, f"one two {shared} three"),
         (2, f"{shared} four five six seven"),
         (3, "tiny doc"),
         (4, "completely different words everywhere all unique tokens")],
        "doc_id long, text string")
    fp = winnow_fingerprints(df)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert len(by_doc[3]) == 1
    assert not (by_doc[1] & by_doc[4])


def test_asof_join_matches_bruteforce(spark):
    """Differential test: asof_join (union + window fill) vs a naive
    per-row 'latest right <= left_ts' computation on seeded-random
    data, including keys with no right rows, equal timestamps, and
    multiple right updates between left rows."""
    import random
    from bigdata_project_hust_spark.operators.joins import asof_join
    rng = random.Random(42)
    lrows = [(i, rng.randint(1, 5), rng.randint(0, 100))
             for i in range(60)]
    rrows = [(1000 + i, rng.randint(1, 7), rng.randint(0, 100),
              float(rng.randint(1, 999)))
             for i in range(40)]
    left = spark.createDataFrame(
        [(eid, k, ts) for eid, k, ts in lrows], "event_id long, k long, ts long")
    right = spark.createDataFrame(rrows, "oid long, k long, rts long, px double")
    got = {r.event_id: (r.oid, r.px)
           for r in asof_join(left, right, "k", "ts", "rts",
                              ["oid", "px"]).collect()}
    for eid, k, ts in lrows:
        cands = [(rts, oid, px) for oid, rk, rts, px in rrows
                 if rk == k and rts <= ts]
        want = (None, None)
        if cands:
            # asof_join carries the LAST right row at/below ts in
            # (rts, arrival) order; make expectation deterministic by
            # max (rts, oid)
            rts, oid, px = max(cands, key=lambda c: (c[0], c[1]))
            want = (oid, px)
        if want == (None, None):
            assert got[eid] == (None, None), eid
        else:
            # equal-rts ties: any of the tied rows is a valid fill;
            # accept ties on rts
            tied = {(oid, px) for rts2, oid, px in cands if rts2 == rts}
            assert got[eid] in tied, eid


def test_merge_aggregate_null_key_merges(spark):
    """Null group keys (one group per groupBy batch) must MERGE across
    batches, not split into disjoint null rows (eqNullSafe join)."""
    from bigdata_project_hust_spark.operators.aggregations import (
        merge_aggregate)
    prev = spark.createDataFrame([(None, 2, 10.0, 7.0), ("a", 1, 1.0, 1.0)],
                                 "k string, cnt long, sv double, mv double")
    batch = spark.createDataFrame([(None, 3, 5.0, 9.0)],
                                  "k string, cnt long, sv double, mv double")
    out = merge_aggregate(prev, batch, "k", ["sv"], ["mv"], "cnt")
    rows = {r.k: (r.cnt, r.sv, r.mv) for r in out.collect()}
    assert rows == {None: (5, 15.0, 9.0), "a": (1, 1.0, 1.0)}


def test_multimodal_partition_invariance(spark):
    """mapInPandas operators must be partitioning-invariant: the same
    media table processed as 1 vs 8 partitions yields identical rows
    (the Arrow batch boundaries change, the results must not)."""
    from pyspark.sql import functions as F
    from bigdata_project_hust_spark.operators.multimodal import (
        extract_features, resize_images)
    rows = [(i, "image", bytes(f"payload-{i}" * (i % 5 + 1), "ascii"))
            for i in range(50)]
    df = spark.createDataFrame(rows, "asset_id long, kind string, payload binary")
    for op in (extract_features, resize_images):
        one = sorted(map(tuple, op(df.coalesce(1)).collect()))
        many = sorted(map(tuple, op(df.repartition(8)).collect()))
        assert one == many and len(one) == 50


def test_sessionize_matches_bruteforce(spark):
    """Differential test: sessionize (lag + cumsum windows) vs a naive
    single-threaded gap walk on seeded-random data with duplicate
    timestamps (the tie case the oracle tiebreak fix addressed)."""
    import random
    from bigdata_project_hust_spark.operators.windows import sessionize
    rng = random.Random(11)
    rows = []
    eid = 0
    for _ in range(150):
        eid += 1
        rows.append((eid, rng.randint(1, 4),
                     rng.choice([0, 1, 2, 5, 10, 10, 40]) * 1000))
    df = spark.createDataFrame(
        [(e, k, f"2024-01-01 00:00:00", s) for e, k, s in rows],
        "event_id long, user_id long, base string, off long"
    ).select("event_id", "user_id",
             (F.unix_timestamp("base") + F.col("off")).cast("timestamp")
             .alias("ts"))
    got = {(r.user_id, r.session_id): (r.n_events, r.session_start_s,
                                       r.session_end_s)
           for r in sessionize(df, "user_id", "ts", 1800,
                               "event_id").collect()}
    # brute force: sort by (ts, event_id) per user, walk gaps
    import collections
    base = 1704067200  # 2024-01-01 UTC
    per_user = collections.defaultdict(list)
    for e, k, s in rows:
        per_user[k].append((base + s, e))
    want = {}
    for k, evs in per_user.items():
        evs.sort()
        sid, n, start, prev = 0, 0, None, None
        for ts, _ in evs:
            if prev is None or ts - prev > 1800:
                if sid:
                    want[(k, sid)] = (n, start, prev)
                sid += 1
                n, start = 0, ts
            n += 1
            prev = ts
        want[(k, sid)] = (n, start, prev)
    assert got == want


def test_empty_input_flows_through_operators(spark):
    """P8 re-expressed: the reference guarded every stage with
    rdd.isEmpty() (consumer2.py:125,137,167,250 — an extra job per
    check); here empty frames flow through every operator class and
    produce empty, correctly-typed results without special-casing."""
    from pyspark.sql import types as T
    from bigdata_project_hust_spark.operators import dedup, text
    from bigdata_project_hust_spark.operators.aggregations import (
        author_engagement)
    from bigdata_project_hust_spark.operators.joins import asof_join, keep_last
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.minhash_near_duplicates(docs).count() == 0
    assert text.tfidf_top_terms(docs).count() == 0
    assert text.winnow_fingerprints(docs).count() == 0
    tweets = spark.createDataFrame([], "author string, views long")
    out = author_engagement(tweets, "author", ["views"])
    assert out.count() == 0
    assert [f.name for f in out.schema.fields[:2]] == ["author",
                                                       "total_tweets"]
    ev = spark.createDataFrame([], "event_id long, k long, ts long")
    od = spark.createDataFrame([], "oid long, k long, rts long, px double")
    assert asof_join(ev, od, "k", "ts", "rts", ["oid", "px"]).count() == 0
    assert keep_last(ev, ["k"], "ts").count() == 0


def test_observed_metrics_single_pass(spark):
    """df.observe accounting: gate-drop counts come out of the ONE real
    execution (no second count() scan), both mid-plan and post-filter."""
    from bigdata_project_hust_spark.observability import observed
    df = spark.range(0, 100).select(F.col("id"))
    pre, obs_in = observed(df, "in", {"n": F.count(F.lit(1)),
                                      "sum_id": F.sum("id")})
    post, obs_out = observed(pre.where(F.col("id") % 2 == 0), "out",
                             {"n": F.count(F.lit(1))})
    post.write.format("noop").mode("overwrite").save()  # the one action
    assert obs_in.get == {"n": 100, "sum_id": 4950}
    assert obs_out.get == {"n": 50}


def test_data_quality_audit_counts_violations(spark):
    """The audit must actually count injected violations (the fixtures
    are clean, so the oracle-parity run only proves the zero case):
    null FK, duplicate key, and dangling FK (nulls count as dangling —
    documented; the paired not_null check disambiguates)."""
    from bigdata_project_hust_spark.operators.quality import audit
    fact = spark.createDataFrame(
        [(1, 10), (2, None), (2, 99)], "k long, fk long")
    dim = spark.createDataFrame([(10,)], "dk long")
    rep = {(r.chk, r.col_name): r.n_violations
           for r in audit(fact, not_null=("fk",), unique=("k",),
                          refs=(("fk", dim, "dk"),)).collect()}
    assert rep == {("not_null", "fk"): 1,
                   ("unique", "k"): 1,       # 3 non-null k, 2 distinct
                   ("ref", "fk"): 2}         # fk=99 dangling + fk=null
    with pytest.raises(ValueError, match="no constraints"):
        audit(fact)


def test_deterministic_sampling_split_and_cap(spark):
    """The reproducibility contracts seeded df.sample cannot give:
    (1) sample membership survives repartitioning; (2) a row's split
    label is invariant under corpus growth (hash of own key only);
    (3) splits partition the corpus exactly; (4) per-group cap keeps
    a deterministic ≤n subset per group."""
    from bigdata_project_hust_spark.operators import sampling
    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))

    s1 = {r.doc_id for r in
          sampling.deterministic_sample(df, "doc_id", 1000).collect()}
    s2 = {r.doc_id for r in sampling.deterministic_sample(
        df.repartition(7), "doc_id", 1000).collect()}
    assert s1 == s2 and 40 <= len(s1) <= 250  # ~10% of 1000

    full = {r.doc_id: r.split
            for r in sampling.split_assign(df, "doc_id").collect()}
    half = {r.doc_id: r.split
            for r in sampling.split_assign(
                df.where(F.col("doc_id") < 500), "doc_id").collect()}
    assert all(full[k] == v for k, v in half.items())  # growth-stable
    assert set(full.values()) == {"train", "val", "test"}
    assert len(full) == 1000  # exact partition, no row dropped
    n_train = sum(1 for v in full.values() if v == "train")
    assert 700 <= n_train <= 900

    g = df.withColumn("grp", (F.col("doc_id") % 3).cast("long"))
    capped = sampling.cap_per_group(g, "grp", "doc_id", 10)
    rows = capped.collect()
    from collections import Counter
    sizes = Counter(r.grp for r in rows)
    assert all(n == 10 for n in sizes.values()) and len(sizes) == 3
    again = {(r.grp, r.doc_id) for r in
             sampling.cap_per_group(g.repartition(5), "grp", "doc_id",
                                    10).collect()}
    assert again == {(r.grp, r.doc_id) for r in rows}

    with pytest.raises(ValueError, match="must sum"):
        sampling.split_assign(df, "doc_id", (("a", 5000), ("b", 4000)))


def test_connected_components_multihop_and_keepers(spark):
    """Min-label propagation must converge across multi-hop chains
    (label travels one hop per round — a 5-node path needs 4 rounds),
    handle disjoint clusters, and keeper selection must pick the min
    id per cluster with the right size."""
    from bigdata_project_hust_spark.operators import dedup
    # path 10-11-12-13-14 (diameter 4), triangle 20-21-22, pair 30-31
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14),
         (20, 21), (21, 22), (20, 22),
         (30, 31)],
        "doc_a long, doc_b long")
    comp = {r.node: r.component
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                    20: 20, 21: 20, 22: 20, 30: 30, 31: 30}
    keep = {r.component: (r.keeper_id, r.cluster_size)
            for r in dedup.duplicate_cluster_keepers(pairs).collect()}
    assert keep == {10: (10, 5), 20: (20, 3), 30: (30, 2)}


def test_minhash_checkpoint_dir_matches_persist_path(spark, tmp_path):
    """minhash_near_duplicates(checkpoint_dir=...) materializes the
    shingle intermediate to parquet (lineage truncation — the cluster-
    scale alternative to persist()) and must produce byte-identical
    results to the default persist path."""
    from bigdata_project_hust_spark.operators import dedup
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different text with no overlap whatsoever here"),
        (4, "the quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(map(tuple,
                      dedup.minhash_near_duplicates(docs).collect()))
    ck = str(tmp_path / "ck")
    got = sorted(map(tuple, dedup.minhash_near_duplicates(
        docs, checkpoint_dir=ck).collect()))
    assert got == base
    # the exact-duplicate pair is guaranteed (identical signatures →
    # every band collides; Jaccard 1); near-pairs depend on LSH luck
    assert [(a, b) for a, b, *_ in base if (a, b) == (1, 4)]
    import os
    # the shingle intermediate lands under the given dir via
    # checkpoint.materialize (per-run namespace + counter-uniquified
    # name, ADVICE r6)
    run_dir = os.path.join(ck, spark.sparkContext.applicationId)
    assert any(d.startswith("minhash_shingles")
               and d.endswith(".parquet") for d in os.listdir(run_dir))


def test_asof_join_null_payload_not_torn(spark):
    """A right row whose payload field is legitimately NULL must be
    carried ATOMICALLY: the as-of fill may not mix fields from
    different right rows (per-column ignorenulls fills would)."""
    from bigdata_project_hust_spark.operators.joins import asof_join
    left = spark.createDataFrame([(1, 10, 3)], "event_id long, k long, ts long")
    right = spark.createDataFrame(
        [(3, 10, 1, 10.0), (5, 10, 2, None)],
        "oid long, k long, rts long, px double")
    got = asof_join(left, right, "k", "ts", "rts", ["oid", "px"]).collect()
    assert len(got) == 1
    # latest right row at/below ts=3 is (oid=5, px=NULL) — px must NOT
    # be backfilled from the older row's 10.0
    assert (got[0].oid, got[0].px) == (5, None)


def test_preprocess_projects_and_tweets_reference_semantics(spark):
    """P1/F2/F3 per-topic preprocess parity (consumer1.py:71-93,
    consumer2.py:111-126): value-only twitter→x rewrite, JSON-string →
    struct parse, nested url extraction; tweets keep engagement nulls
    (the null→0 coalesce belongs to aggregation, not projection)."""
    from bigdata_project_hust_spark.operators.projections import (
        preprocess_projects, preprocess_tweets)
    projects = spark.createDataFrame(
        [("ProjTwitter", '{"id": "9", "url": "https://twitter.com/x1"}',
          "https://twitter.com/site")],
        "projectId string, twitter string, website string")
    got = preprocess_projects(projects).collect()[0]
    assert got.projectId == "ProjX"                # Twitter→X value rewrite
    assert got.twitter_url == "https://x.com/x1"   # rewrite inside struct
    assert got.website == "https://x.com/site"
    tweets = spark.createDataFrame(
        [("twitter_author", "The Twitter Guy", 10, None, 3, None)],
        "author string, authorName string, views long, likes long, "
        "replyCounts long, retweetCounts long")
    t = preprocess_tweets(tweets).collect()[0]
    assert t.author == "x_author" and t.authorName == "The X Guy"
    assert t.likes is None and t.retweetCounts is None   # nulls preserved
    assert t.views == 10 and t.replyCounts == 3


def test_engine_facade_smoke(spark):
    """The one-import user surface: the reference workflow (kols,
    engagement_log) and the query catalog produce runnable lazy
    DataFrames over the fixtures; extension operators the catalog
    registers with other arguments are called directly."""
    from bigdata_project_hust_spark.api import Engine
    from bigdata_project_hust_spark.operators.curation import (
        benchmark_overlap, sequence_pack)
    from bigdata_project_hust_spark.operators.similarity import cosine_topk
    from bigdata_project_hust_spark.operators.text import tokens
    eng = Engine(spark, "/root/testdata/sf0.001")
    assert eng.kols().count() > 0
    kols = eng.kols().select("c_custkey", "c_name", "influence_score")
    assert (sorted(tuple(r) for r in kols.collect())
            == sorted(tuple(r) for r in eng.query("kol_threshold").collect()))
    users = [r.user_id for r in
             eng.engagement_log().select("user_id").collect()]
    assert users and len(users) == len(set(users))  # one row per user
    assert set(users) == {r.user_id for r in eng.query(
        "engagement_change_log").select("user_id").collect()}
    assert eng.query("dedup_exact").columns == [
        "text_md5", "keeper_id", "n_copies"]
    assert cosine_topk(eng.table("embeddings"), 0, 3).count() == 3
    assert eng.query("training_corpus_curation").columns == [
        "doc_id", "quality", "n_tokens"]
    assert len(eng.query_names()) >= 89
    assert eng.query("top5_orders").count() == 5
    # round-3 curation/layout surface
    nt = eng.table("documents").select(
        F.col("doc_id"),
        F.size(tokens("text")).cast("long").alias("n_tokens"))
    assert sequence_pack(nt, seq_len=64).columns == [
        "doc_id", "n_tokens", "offset", "pack_id", "n_packs_spanned"]
    assert eng.query("line_dedup_clean").columns == [
        "doc_id", "n_lines", "n_removed", "clean_text"]
    assert (eng.query("corpus_shuffle_positions").count()
            == eng.table("documents").count())
    assert eng.query("embedding_quantize_int8").columns == [
        "vec_id", "scale_e9", "q_csv", "max_err_e9"]
    bench = eng.table("documents").where(F.col("doc_id") % 10 == 7)
    assert "contaminated" in benchmark_overlap(
        eng.table("documents"), bench, n=13).columns
    assert eng.query("chunk_documents").count() > 0
    assert "dsir_logratio_e6" in eng.query("dsir_importance").columns
    with pytest.raises(KeyError):
        eng.query("nope")


def test_with_ingest_ts_and_view_registration(spark):
    """F5 ingest timestamp (unix seconds ≈ now) and the spark.sql view
    registration path over the fixture tables."""
    import time
    from bigdata_project_hust_spark.io import load_tables, register_views
    from bigdata_project_hust_spark.operators.projections import (
        with_ingest_ts)
    df = with_ingest_ts(spark.createDataFrame([(1,)], "x long"))
    ts = df.collect()[0].timestamp
    assert abs(ts - int(time.time())) < 120
    register_views(spark, "/root/testdata/sf0.001", ("region", "nation"))
    n = spark.sql(
        "SELECT count(*) AS n FROM region JOIN nation "
        "ON r_regionkey = n_regionkey").collect()[0].n
    assert n == 25
    tables = load_tables(spark, "/root/testdata/sf0.001",
                         ("region", "nation"))
    assert set(tables) == {"region", "nation"}


def test_ngram_capped_is_subset_of_uncapped(spark):
    """Stop-shingle capping may only REMOVE pairs (bounded recall
    loss), never add or rescore: capped results ⊆ uncapped, with
    identical Jaccard stats on surviving pairs."""
    from bigdata_project_hust_spark.io import load_table
    from bigdata_project_hust_spark.operators.dedup import (
        ngram_jaccard_pairs, ngram_jaccard_pairs_capped)
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {(r.doc_a, r.doc_b): (r.inter_size, r.union_size)
            for r in ngram_jaccard_pairs(d).collect()}
    capped = {(r.doc_a, r.doc_b): (r.inter_size, r.union_size)
              for r in ngram_jaccard_pairs_capped(d, max_df=3).collect()}
    assert set(capped) <= set(full)
    for pair, stats in capped.items():
        assert stats == full[pair]


# ---------------------------------------------------------------------------
# Round-3 curation operators
# ---------------------------------------------------------------------------

def test_benchmark_overlap_counts(spark):
    """Hand-built contamination: doc 1 shares its only shingle with two
    bench docs; doc 2 shares nothing; doc 3 shares one of two."""
    from bigdata_project_hust_spark.operators.curation import benchmark_overlap
    train = spark.createDataFrame(
        [(1, "alpha beta gamma"),
         (2, "totally unrelated words here"),
         (3, "alpha beta gamma delta")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(107, "alpha beta gamma"), (117, "prefix alpha beta gamma")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in benchmark_overlap(train, bench).collect()}
    assert out[1].n_shingles == 1 and out[1].n_overlap == 1
    assert out[1].n_bench_docs == 2 and out[1].contaminated == 1
    assert out[1].contamination_e6 == 1_000_000
    assert out[2].n_overlap == 0 and out[2].contaminated == 0
    # doc 3: shingles {alpha beta gamma, beta gamma delta} — 1 of 2 hit
    assert out[3].n_shingles == 2 and out[3].n_overlap == 1
    assert out[3].contamination_e6 == 500_000


def test_sequence_pack_matches_naive_global_window(spark):
    """Two-phase bucketed cumsum ≡ the naive single global window, on
    sparse/dense ids crossing bucket boundaries; offsets contiguous."""
    from bigdata_project_hust_spark.operators.curation import sequence_pack
    rows = [(i * 7 % 97 + (1000 if i % 3 == 0 else 0), None)
            for i in range(60)]
    ids = sorted({r[0] for r in rows})
    data = [(i, (i * 13) % 9) for i in ids]   # some zero-token docs
    df = spark.createDataFrame(data, "doc_id long, n_tokens long")
    out = {r.doc_id: r for r in
           sequence_pack(df, seq_len=10, bucket=8).collect()}
    run = 0
    for i in ids:
        r = out[i]
        assert r.offset == run, (i, r.offset, run)
        assert r.pack_id == run // 10
        if r.n_tokens > 0:
            assert r.n_packs_spanned == (run + r.n_tokens - 1) // 10 \
                - run // 10 + 1
        else:
            assert r.n_packs_spanned == 1
        run += r.n_tokens


def test_chunk_tokens_cover_and_overlap(spark):
    """Chunks start every `stride` tokens, each `chunk_size` long (tail
    shorter); concatenating each chunk's first `stride` tokens
    reconstructs the document; 0-token docs drop out."""
    from bigdata_project_hust_spark.operators.curation import chunk_tokens
    text = " ".join(f"t{i}" for i in range(50))
    df = spark.createDataFrame([(1, text), (2, "x"), (3, "   ")],
                               "doc_id long, text string")
    out = chunk_tokens(df, chunk_size=16, stride=12).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc                       # whitespace-only drops
    assert [r.n_chunk_tokens for r in by_doc[2]] == [1]
    ch = sorted(by_doc[1], key=lambda r: r.chunk_no)
    assert [r.chunk_no for r in ch] == list(range(len(ch)))
    toks = text.split()
    recon = []
    for r in ch:
        got = r.chunk_text.split()
        start = r.chunk_no * 12
        assert got == toks[start:start + 16]
        recon.extend(got[:12])
    assert recon[:50] == toks


def test_dsir_separates_target_like_docs(spark):
    """A doc written in target-domain vocabulary must outscore a doc of
    raw-only vocabulary; scores are finite with smoothing."""
    from bigdata_project_hust_spark.operators.curation import dsir_logratio
    rows = [(1, "aa bb aa bb aa"), (6, "aa bb aa"),        # targets (id%5==1)
            (2, "zz yy zz yy"), (3, "zz yy xx"),
            (4, "aa bb zz yy"), (5, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dsir_logratio(df, F.col("doc_id") % 5 == 1).collect()}
    assert out[1].is_target == 1 and out[2].is_target == 0
    assert out[1].dsir_logratio_e6 > 0 > out[2].dsir_logratio_e6
    assert out[1].dsir_logratio_e6 > out[4].dsir_logratio_e6 \
        > out[2].dsir_logratio_e6
    assert out[5].n_tokens == 0 and out[5].dsir_logratio_e6 == 0


def test_quantize_int8_roundtrip_error_bound(spark):
    """Quantized values stay in [-127, 127]; reconstruction error is
    ≤ scale/2 (round-half-up); the all-zero vector yields scale 0 and
    an all-zero int8 vector."""
    from bigdata_project_hust_spark.operators.similarity import quantize_int8
    rows = [(1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-2.5, 2.5, 1.25, -1.25])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_int8(df).collect()}
    for vid, vec in [(1, rows[0][1]), (3, rows[2][1])]:
        r = out[vid]
        q = [int(x) for x in r.q_csv.split(",")]
        assert all(-127 <= x <= 127 for x in q)
        assert 127 in q or -127 in q          # maxabs element saturates
        scale = r.scale_e9 / 1e9
        # floor-quantized scale adds ≤1e-9; half-step bound + slack
        assert r.max_err_e9 <= (scale + 1e-9) / 2 * 1e9 + 1
    assert out[2].scale_e9 == 0 and out[2].max_err_e9 == 0
    assert set(out[2].q_csv.split(",")) == {"0"}


def test_corpus_shuffle_is_dense_permutation(spark):
    """Positions are exactly 0..n-1, reproducible across invocations,
    and NOT the identity order (the hash actually shuffles)."""
    from bigdata_project_hust_spark.operators.curation import corpus_shuffle
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.shuffle_pos for r in corpus_shuffle(df).collect()}
    b = {r.doc_id: r.shuffle_pos for r in corpus_shuffle(df).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(500))
    ident = sum(1 for k, v in a.items() if k == v)
    assert ident < 50      # a real permutation, not sorted order


def test_corpus_shuffle_matches_naive_window(spark):
    """Two-phase bucketed ranks ≡ naive global row_number over
    (hash, id) — verified at a bucket shift small enough that many
    buckets are actually populated."""
    from bigdata_project_hust_spark.operators.curation import corpus_shuffle
    from bigdata_project_hust_spark.functions.scalar import stable_hash64
    from pyspark.sql import Window
    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: r.shuffle_pos
           for r in corpus_shuffle(df, shift=55).collect()}
    h = stable_hash64(F.col("doc_id").cast("string"), 7)
    naive = {r.doc_id: r.pos - 1 for r in df.select(
        "doc_id", F.row_number().over(
            Window.orderBy(h, "doc_id")).alias("pos")).collect()}
    assert got == naive


def test_line_dedup_keeps_first_occurrence(spark):
    """Hand-built corpus: a shared 2-token line survives only in the
    lexicographically-first (doc_id, line_no) slot; within-doc repeats
    also dedup; reassembly preserves original line order."""
    from bigdata_project_hust_spark.operators.curation import line_dedup
    rows = [(1, "aa bb cc dd"),            # lines: "aa bb", "cc dd"
            (2, "cc dd aa bb"),            # both dup of doc 1
            (3, "ee ff ee ff gg"),         # within-doc repeat + tail
            (4, "")]                       # token-less drops out
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, line_tokens=2).collect()}
    assert out[1].n_lines == 2 and out[1].n_removed == 0
    assert out[1].clean_text == "aa bb cc dd"
    assert out[2].n_lines == 2 and out[2].n_removed == 2
    assert out[2].clean_text == ""
    assert out[3].n_lines == 3 and out[3].n_removed == 1
    assert out[3].clean_text == "ee ff gg"
    assert 4 not in out


def test_dsir_resample_biases_toward_target(spark):
    """On a corpus of many target-vocabulary and raw-vocabulary docs,
    the resample keeps a higher fraction of target-like docs, is
    deterministic, and p_accept_e6 is the exact squash of the
    weight."""
    from bigdata_project_hust_spark.operators.curation import dsir_resample
    rows = []
    for i in range(200):
        if i % 5 == 1:
            rows.append((i, "aa bb cc aa bb"))
        else:
            rows.append((i, "zz yy xx ww vv"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dsir_resample(df, F.col("doc_id") % 5 == 1).collect()
    out2 = dsir_resample(df, F.col("doc_id") % 5 == 1).collect()
    assert {r.doc_id for r in out} == {r.doc_id for r in out2}
    n_t = sum(1 for r in out if r.is_target == 1)
    n_r = len(out) - n_t
    tot_t = sum(1 for i, _ in rows if i % 5 == 1)
    tot_r = len(rows) - tot_t
    assert n_t / tot_t > n_r / tot_r          # bias toward target
    for r in out:
        # Python // floors toward -inf exactly like F.floor(x/4)
        want = max(0, min(1_000_000, 500_000 + r.dsir_logratio_e6 // 4))
        assert r.p_accept_e6 == want


def _ppm_bytes(w, h, rgb):
    """P6 PPM with constant or per-pixel rgb (list of rows of (r,g,b))."""
    if isinstance(rgb, tuple):
        rows = [[rgb] * w for _ in range(h)]
    else:
        rows = rgb
    body = bytes(c for row in rows for px in row for c in px)
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + body


def _bmp_bytes(w, h, rows_rgb):
    """Uncompressed 24-bit bottom-up BMP from rows of (r,g,b)."""
    import struct
    stride = (w * 3 + 3) & ~3
    body = b""
    for row in reversed(rows_rgb):               # bottom-up
        line = bytes(c for (r, g, b) in row for c in (b, g, r))
        body += line + b"\x00" * (stride - len(line))
    off = 54
    header = (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
              + struct.pack("<iiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(body), 2835, 2835, 0, 0))
    return header + body


def test_image_raster_codec_real(spark):
    """Real PPM + BMP decode: exact dims, exact mean-channel features
    on known pixels, identical features for the same image in both
    containers, corrupt payloads isolated as ok=false."""
    from bigdata_project_hust_spark.operators.multimodal import (
        extract_image_features)
    pix = [[(255, 0, 0), (0, 255, 0)],
           [(0, 0, 255), (255, 255, 255)]]
    rows = [(1, _ppm_bytes(2, 2, pix)),
            (2, _bmp_bytes(2, 2, pix)),
            (3, _ppm_bytes(4, 3, (128, 128, 128))),
            (4, b"not an image"), (5, None)]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r.asset_id: r for r in extract_image_features(df).collect()}
    assert out[1].ok and out[1].width == 2 and out[1].height == 2
    # mean R over [255,0,0,255]/255 = 0.5; same for G and B
    for i in range(3):
        assert abs(out[1].feature[i] - 0.5) < 1e-12
    # BMP of the same pixels must decode to the same features
    assert out[2].ok and out[2].feature == out[1].feature
    assert out[3].ok and out[3].width == 4 and out[3].height == 3
    assert abs(out[3].feature[0] - 128 / 255) < 1e-12
    assert out[3].feature[6] == 0.0 and out[3].feature[7] == 0.0  # flat
    assert not out[4].ok and "ValueError" in out[4].err
    assert not out[5].ok


def test_resize_rasters_real_nearest_neighbor(spark):
    """Real resize: a 4×4 quadrant image downsampled to 2×2 keeps one
    pixel per quadrant; output is a decodable PPM thumb; corrupt rows
    isolate."""
    from bigdata_project_hust_spark.operators.multimodal import (
        decode_image_raster, resize_rasters)
    q = [[(255, 0, 0)] * 2 + [(0, 255, 0)] * 2] * 2 \
        + [[(0, 0, 255)] * 2 + [(255, 255, 0)] * 2] * 2
    df = spark.createDataFrame(
        [(1, _ppm_bytes(4, 4, q)), (2, b"junk")],
        "asset_id long, payload binary")
    out = {r.asset_id: r for r in resize_rasters(df, 2, 2).collect()}
    assert out[1].ok
    m = decode_image_raster(bytes(out[1].thumb))
    assert (m["width"], m["height"]) == (2, 2)
    px = m["pixels"]
    assert tuple(px[0, 0]) == (255, 0, 0) and tuple(px[0, 1]) == (0, 255, 0)
    assert tuple(px[1, 0]) == (0, 0, 255) and tuple(px[1, 1]) == (255, 255, 0)
    assert not out[2].ok


def test_connected_components_long_path_bounded_memory(spark):
    """Worst-diameter regression guard: a 25-node path needs ~24
    min-label rounds; without periodic lineage truncation the nested
    per-round plans overflow the driver heap (hypothesis originally
    found this). Must converge to one component in bounded memory."""
    from bigdata_project_hust_spark.operators.dedup import (
        connected_components)
    df = spark.createDataFrame([(i, i + 1) for i in range(24)],
                               "doc_a long, doc_b long")
    out = {r.node: r.component
           for r in connected_components(df, max_iter=30).collect()}
    assert set(out.values()) == {0} and len(out) == 25


# ---------------------------------------------------------------------------
# Round-3b operators: span dedup, BM25, k-means, SCD2, histogram
# ---------------------------------------------------------------------------

def test_span_duplicates_interval_union(spark):
    """Overlapping duplicated spans must count covered tokens as an
    interval UNION, not a sum: "a b c a b c a b" with n=3 has every
    span duplicated, covering all 8 tokens exactly once each."""
    from bigdata_project_hust_spark.operators.dedup import span_duplicates
    df = spark.createDataFrame(
        [(1, "a b c a b c a b"), (2, "x y z w v u")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in span_duplicates(df, n=3).collect()}
    r1 = out[1]
    assert r1.n_spans == 6 and r1.n_dup_spans == 6
    assert r1.dup_tokens == 8 and r1.dup_frac_e6 == 1_000_000
    r2 = out[2]
    assert r2.n_dup_spans == 0 and r2.dup_tokens == 0


def test_span_duplicates_cross_doc_and_short_doc(spark):
    from bigdata_project_hust_spark.operators.dedup import span_duplicates
    df = spark.createDataFrame(
        [(1, "p q r s"), (2, "p q r t"), (3, "p q")],  # "p q r" shared
        "doc_id long, text string")
    out = {r.doc_id: r for r in span_duplicates(df, n=3).collect()}
    assert out[1].n_dup_spans == 1 and out[1].dup_tokens == 3
    assert out[1].max_span_freq == 2
    # doc 3 is shorter than n: single whole-text span, unique
    assert out[3].n_spans == 1 and out[3].n_dup_spans == 0


def test_bm25_scores_match_reference_formula(spark):
    import math
    from bigdata_project_hust_spark.operators.text import bm25_topk
    docs = [(1, "apple banana apple"), (2, "banana cherry"),
            (3, "cherry cherry cherry"), (4, "durian")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r.score_e6
           for r in bm25_topk(df, ["apple", "cherry"], k=10).collect()}
    # reference scorer (plain python floats, same fixed order)
    n, k1, b = 4, 1.2, 0.75
    dls = {1: 3, 2: 2, 3: 3, 4: 1}
    avgdl = 9 / 4
    dfs = {"apple": 1, "cherry": 2}
    tfs = {1: {"apple": 2}, 2: {"cherry": 1}, 3: {"cherry": 3}}
    for doc, terms in tfs.items():
        score = 0.0
        for t in ["apple", "cherry"]:
            tf = terms.get(t, 0)
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            score = score + idf * tf * (k1 + 1.0) / (
                tf + k1 * (1 - b + b * dls[doc] / avgdl))
        assert out[doc] == math.floor(score * 1_000_000), doc
    assert 4 not in out  # zero-score docs filtered


def test_kmeans_separates_obvious_clusters(spark):
    from bigdata_project_hust_spark.operators.similarity import (
        kmeans_assign)
    rows = [(i, [0.1 + 0.001 * i, 0.1]) for i in range(5)] + \
           [(i, [0.9, 0.9 - 0.001 * i]) for i in range(5, 10)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    out = kmeans_assign(df, k=2, iters=2).collect()
    clusters = {r.vec_id: r.cluster_id for r in out}
    assert len({clusters[i] for i in range(5)}) == 1
    assert len({clusters[i] for i in range(5, 10)}) == 1
    assert clusters[0] != clusters[9]
    # determinism: identical second run
    again = {r.vec_id: (r.cluster_id, r.dist_q)
             for r in kmeans_assign(df, k=2, iters=2).collect()}
    assert again == {r.vec_id: (r.cluster_id, r.dist_q) for r in out}


def test_scd2_history_runs_and_stitching(spark):
    import datetime as dt
    from bigdata_project_hust_spark.operators.windows import scd2_history
    t0 = dt.datetime(2024, 1, 1)
    ev = [(1, t0, 10, "A"), (1, t0 + dt.timedelta(1), 11, "A"),
          (1, t0 + dt.timedelta(2), 12, "B"),
          (1, t0 + dt.timedelta(3), 13, "A"),
          (2, t0, 20, "C")]
    df = spark.createDataFrame(
        ev, "user_id long, ts timestamp, event_id long, event_type string")
    out = sorted(scd2_history(df, "user_id", "event_type", "ts",
                              "event_id").collect(),
                 key=lambda r: (r.user_id, r.version))
    u1 = [r for r in out if r.user_id == 1]
    assert [r.event_type for r in u1] == ["A", "B", "A"]
    assert [r.n_events for r in u1] == [2, 1, 1]
    # valid_to of version i == valid_from of version i+1; last open
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert u1[2].valid_to is None and u1[2].is_current == 1
    assert [r.is_current for r in u1] == [0, 0, 1]
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current == 1


def test_value_histogram_edges_and_overflow(spark):
    from bigdata_project_hust_spark.operators.aggregations import (
        value_histogram)
    df = spark.createDataFrame(
        [(v,) for v in [-1.0, 0.0, 4.9, 5.0, 9.99, 10.0, 55.5]],
        "v double")
    out = {r.bin: r for r in value_histogram(df, "v", 0.0, 10.0, 2)
           .collect()}
    assert out[-1].n == 1          # underflow
    assert out[0].n == 2 and out[0].bin_min == 0.0   # [0,5)
    assert out[1].n == 2 and out[1].bin_max == 9.99  # [5,10)
    assert out[2].n == 2           # overflow: 10.0 and 55.5


def test_pagerank_matches_integer_reference(spark):
    from bigdata_project_hust_spark.operators.graph import (
        PR_SCALE, pagerank)
    edges = [(1, 2), (3, 2), (2, 1), (2, 3), (4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_e9 for r in pagerank(df, iters=3).collect()}

    # reference: the same exact-integer recurrence in plain python
    nodes = {n for e in edges for n in e}
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {n: PR_SCALE for n in nodes}
    base = (3 * PR_SCALE) // 20
    for _ in range(3):
        inflow = {n: 0 for n in nodes}
        for s, d in edges:
            inflow[d] += r[s] // outdeg[s]
        r = {n: base + (inflow[n] * 17) // 20 for n in nodes}
    assert got == r
    # hub 2 out-ranks the leaves
    assert got[2] == max(got.values())


def test_tfidf_sparse_pairs_dfcap_and_identity(spark):
    from bigdata_project_hust_spark.operators.text import (
        tfidf_sparse_pairs)
    # docs 1 and 2 identical → cosine 1.0; "common" appears everywhere
    df = spark.createDataFrame(
        [(1, "alpha beta common"), (2, "alpha beta common"),
         (3, "gamma delta common"), (4, "zzz common")],
        "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r.sim_e6
           for r in tfidf_sparse_pairs(df, min_sim_e6=0).collect()}
    # identical docs: sim_e6 == floor(1.0 * 1e6) (common has idf 0,
    # so only alpha/beta carry weight)
    assert out[(1, 2)] == 1_000_000
    # df-cap at 1 drops every term shared by ≥2 docs → no pairs at all
    capped = tfidf_sparse_pairs(df, min_sim_e6=0, max_df=1).collect()
    assert capped == []


def test_token_entropy_known_values(spark):
    from bigdata_project_hust_spark.operators.text import token_entropy
    df = spark.createDataFrame(
        [(1, "a a b b"), (2, "x x x x"), (3, ""), (4, "q w e r")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in token_entropy(df).collect()}
    assert out[1].entropy_e6 == 1_000_000       # two 50/50 terms: 1 bit
    assert out[2].entropy_e6 == 0               # single term: 0 bits
    assert out[3] .n_tokens == 0 and out[3].entropy_e6 == 0
    assert out[4].entropy_e6 == 2_000_000       # uniform 4: 2 bits
    assert out[4].n_distinct == 4


def test_triangle_count_k4_and_square(spark):
    from bigdata_project_hust_spark.operators.graph import triangle_count
    # K4 on 1..4 (every node in 3 triangles) + a disjoint 4-cycle on
    # 10..13 (zero triangles → absent from output)
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    square = [(10, 11), (11, 12), (12, 13), (10, 13)]
    df = spark.createDataFrame(k4 + square, "pa long, pb long")
    out = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_intersect_fallback_equals_broadcast(spark,
                                                            monkeypatch):
    """Past TRIANGLE_BROADCAST_MAX_EDGES the operator switches to the
    adjacency-intersection path (now with a materialized adj frame) —
    force the gate to 0 and assert the fallback reproduces the
    broadcast path's exact per-node counts, including sink nodes with
    no adjacency row (the left join + empty-array coalesce)."""
    from bigdata_project_hust_spark.operators import graph
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    square = [(10, 11), (11, 12), (12, 13), (10, 13)]
    df = spark.createDataFrame(k4 + square, "pa long, pb long")
    expected = {r.node: r.n_triangles
                for r in graph.triangle_count(df).collect()}
    monkeypatch.setattr(graph, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
    out = {r.node: r.n_triangles
           for r in graph.triangle_count(df).collect()}
    assert out == expected == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_int_typed_edges(spark):
    """IntegerType edge columns take the packed-key path correctly:
    Java masks shift amounts mod the operand width, so shiftleft on an
    un-cast INT column is a silent no-op and uv collapses to u|v
    (ADVICE r6 medium). The packer must cast to LONG first."""
    from bigdata_project_hust_spark.operators.graph import triangle_count
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    square = [(10, 11), (11, 12), (12, 13), (10, 13)]
    df = spark.createDataFrame(k4 + square, "pa int, pb int")
    out = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def _png_encode(px, filters, alpha=False):
    """Minimal PNG encoder for tests: per-row FORWARD filtering with a
    chosen filter type per scanline (exercises every decoder branch)."""
    import struct
    import zlib
    h = len(px)
    w = len(px[0])
    nch = 4 if alpha else 3
    ct = 6 if alpha else 2

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    stride = w * nch
    prev = [0] * stride
    raw = b""
    for y in range(h):
        cur = [v for pxl in px[y] for v in pxl]
        f = filters[y % len(filters)]
        line = []
        for i in range(stride):
            a = cur[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if f == 0:
                line.append(cur[i])
            elif f == 1:
                line.append((cur[i] - a) & 255)
            elif f == 2:
                line.append((cur[i] - b) & 255)
            elif f == 3:
                line.append((cur[i] - ((a + b) >> 1)) & 255)
            else:
                line.append((cur[i] - paeth(a, b, c)) & 255)
        raw += bytes([f]) + bytes(line)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def test_png_decode_all_filter_types():
    from bigdata_project_hust_spark.operators.multimodal import (
        decode_image_raster)
    import random
    rng = random.Random(7)
    px = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(6)] for _ in range(5)]
    # one row per filter type 0..4
    payload = _png_encode(px, filters=[0, 1, 2, 3, 4])
    m = decode_image_raster(payload)
    assert (m["width"], m["height"], m["n_channels"]) == (6, 5, 3)
    got = [[tuple(int(v) for v in m["pixels"][y, x]) for x in range(6)]
           for y in range(5)]
    assert got == px


def test_encode_png_rgb_roundtrip_and_resize_png():
    """The engine's OWN encoder (encode_png_rgb, numpy forward-filter)
    must roundtrip bit-exact through the decoder for every filter type
    and cycling combinations — independent of the test-local _png_encode
    helper above."""
    import random

    import numpy as np
    import pytest
    from bigdata_project_hust_spark.operators.multimodal import (
        decode_image_raster, encode_png_rgb)
    rng = random.Random(13)
    px = np.array([[(rng.randrange(256), rng.randrange(256),
                     rng.randrange(256)) for _ in range(7)]
                   for _ in range(5)], dtype=np.uint8)
    for filts in ([0], [1], [2], [3], [4], [1, 2, 3, 4], [4, 3, 2, 1]):
        m = decode_image_raster(encode_png_rgb(px, filters=filts))
        assert (m["pixels"] == px).all(), filts
    with pytest.raises(ValueError, match="filter"):
        encode_png_rgb(px, filters=[9])
    with pytest.raises(ValueError, match="RGB"):
        encode_png_rgb(np.zeros((2, 2, 4), dtype=np.uint8))


def test_resize_rasters_png_output(spark):
    """resize_rasters(encode='png') emits REAL decodable PNG thumbs
    with the same pixels as the PPM encoding path."""
    import numpy as np
    from bigdata_project_hust_spark.operators.multimodal import (
        decode_image_raster, resize_rasters)
    import pytest
    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    ppm = b"P6\n4 4\n255\n" + px.tobytes()
    df = spark.createDataFrame([(1, bytearray(ppm))],
                               "asset_id long, payload binary")
    ppm_thumb = resize_rasters(df, 2, 2).collect()[0]
    png_thumb = resize_rasters(df, 2, 2, encode="png").collect()[0]
    assert ppm_thumb.ok and png_thumb.ok
    a = decode_image_raster(bytes(ppm_thumb.thumb))
    b = decode_image_raster(bytes(png_thumb.thumb))
    assert (a["pixels"] == b["pixels"]).all()
    assert bytes(png_thumb.thumb)[:8] == b"\x89PNG\r\n\x1a\n"
    with pytest.raises(ValueError, match="encoding"):
        resize_rasters(df, 2, 2, encode="gif")


def test_png_decode_rgba_drops_alpha_and_corrupt_isolated(spark):
    from bigdata_project_hust_spark.operators.multimodal import (
        decode_image_raster, extract_image_features)
    px = [[(10, 20, 30, 255), (40, 50, 60, 128)],
          [(70, 80, 90, 0), (1, 2, 3, 9)]]
    payload = _png_encode(px, filters=[4], alpha=True)
    m = decode_image_raster(payload)
    assert m["n_channels"] == 3
    assert tuple(int(v) for v in m["pixels"][0, 1]) == (40, 50, 60)
    # through the Arrow UDF path, with a corrupt sibling asset
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"\x89PNGxxxx"))],
        "asset_id long, payload binary")
    out = {r.asset_id: r for r in extract_image_features(df).collect()}
    assert out[1].ok and out[1].width == 2
    assert not out[2].ok


# ---------------------------------------------------------------------------
# Review-pass regression guards (round 3b)
# ---------------------------------------------------------------------------

def test_png_corrupt_deflate_raises_valueerror():
    """Error contract: every undecodable payload surfaces as
    ValueError (zlib.error must not escape the codec)."""
    import pytest
    import struct
    import zlib
    from bigdata_project_hust_spark.operators.multimodal import (
        decode_image_raster)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", b"this is not deflate")
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_image_raster(bad)
    with pytest.raises(ValueError):  # truncated IHDR
        decode_image_raster(b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", b"\x00"))


def test_kmeans_seeds_are_lowest_ids_not_id_lt_k(spark):
    """Offset (non-0-based) ids must still produce k seed centroids —
    `id < k` seeding would silently yield an empty result."""
    from bigdata_project_hust_spark.operators.similarity import (
        kmeans_assign)
    # the two lowest ids carry DISTINCT vectors (identical seeds would
    # legitimately collapse to one cluster)
    rows = [(1000, [0.1, 0.1]), (1001, [0.9, 0.9])] + \
           [(1002 + i, [0.1, 0.1]) for i in range(3)] + \
           [(2000 + i, [0.9, 0.9]) for i in range(3)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    out = kmeans_assign(df, k=2, iters=1).collect()
    assert len(out) == 8
    clusters = {r.vec_id: r.cluster_id for r in out}
    low = {1000, 1002, 1003, 1004}
    high = {1001, 2000, 2001, 2002}
    assert len({clusters[i] for i in low}) == 1
    assert len({clusters[i] for i in high}) == 1
    assert clusters[1000] != clusters[1001]


def test_value_histogram_fp_edge_clamps_to_last_bin(spark):
    """w=(hi-lo)/nbins can round down so floor((x-lo)/w)==nbins for an
    x strictly below hi — the clamp keeps the overflow bin exactly the
    documented x >= hi set."""
    from bigdata_project_hust_spark.operators.aggregations import (
        value_histogram)
    x = 0.09999999999999999  # < 0.1, but floor(x / (0.1/3)) == 3
    df = spark.createDataFrame([(x,), (0.1,)], "v double")
    out = {r.bin: r.n for r in
           value_histogram(df, "v", 0.0, 0.1, 3).collect()}
    assert out == {2: 1, 3: 1}


def test_pyds_stream_read_empty_fixture_terminates(spark, tmp_path):
    """A zero-row fixture with loop=true must not hang the range
    reader (modulo arithmetic on n=0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from bigdata_project_hust_spark.sources.pyds import (
        FixtureReplayStreamReader, _RangePartition)
    p = str(tmp_path / "empty.parquet")
    pq.write_table(pa.table({"a": pa.array([], type=pa.int64())}), p)
    r = FixtureReplayStreamReader(p, batch_rows=10, loop=True)
    got = list(r.read(_RangePartition(p, 0, 10)))
    assert got == []


def test_pyds_stream_read_is_row_group_targeted(tmp_path):
    """The range reader must decode only row groups overlapping the
    requested range, and return exactly those rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from bigdata_project_hust_spark.sources.pyds import (
        FixtureReplayStreamReader, _RangePartition)
    p = str(tmp_path / "rg.parquet")
    pq.write_table(pa.table({"a": pa.array(range(100))}), p,
                   row_group_size=10)
    r = FixtureReplayStreamReader(p, batch_rows=7, loop=False)
    vals = [v for b in r.read(_RangePartition(p, 23, 41))
            for v in b.column(0).to_pylist()]
    assert vals == list(range(23, 41))
    # loop wrap: range past EOF comes back around
    r2 = FixtureReplayStreamReader(p, batch_rows=7, loop=True)
    vals2 = [v for b in r2.read(_RangePartition(p, 95, 105))
             for v in b.column(0).to_pylist()]
    assert vals2 == list(range(95, 100)) + list(range(0, 5))


def test_knn_label_vote_majority_and_tiebreak(spark):
    """Two tight clusters with distinct labels: every vector's
    neighbors share its label → vote purity 100%."""
    from bigdata_project_hust_spark.operators.similarity import (
        knn_label_vote)
    rows = [(i, [1.0 + i * 0.001, 0.0], 7) for i in range(4)] + \
           [(10 + i, [-1.0 - i * 0.001, -0.2], 9) for i in range(4)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int")
    out = knn_label_vote(df, k=3, dim=2).collect()
    assert len(out) == 8
    assert all(r.correct == 1 for r in out)
    assert {r.pred_label for r in out} == {7, 9}


def test_value_outliers_exact_integer_zscore(spark):
    from bigdata_project_hust_spark.operators.aggregations import (
        value_outliers)
    # group A: tight cluster around 10 plus one wild point; group B: no
    # outliers (uniform spread)
    rows = [(i, "A", 10.0 + 0.01 * i) for i in range(10)] + \
           [(99, "A", 500.0)] + \
           [(200 + i, "B", float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "event_id long, k string, v double")
    out = value_outliers(df, "k", "v", "event_id").collect()
    assert [(r.event_id, r.k) for r in out] == [(99, "A")]
    # python cross-check of the inequality for the flagged row
    qs = [1000 + i for i in range(10)] + [50000]
    n, s, s2 = len(qs), sum(qs), sum(q * q for q in qs)
    assert (n * 50000 - s) ** 2 > 9 * (n * s2 - s * s)


def test_gopher_rules_boundaries(spark):
    """Rule boundaries: word count at exactly MIN passes / MIN-1
    fails; mean word length exactly 3.0 passes (cross-multiplied
    equality); 1 stopword hit fails, 2 pass; empty text fails every
    w>0-guarded rule."""
    from bigdata_project_hust_spark.operators.text import gopher_rules
    mk = lambda n, word: " ".join([word] * n)  # noqa: E731
    df = spark.createDataFrame(
        [(1, mk(30, "the")),          # 30 words, mwl=3.0, stop=30
         (2, mk(29, "the")),          # word count one short
         (3, mk(30, "ab")),           # mwl 2.0 < 3.0
         (4, "the " + mk(29, "word")),  # 1 stopword only
         (5, "")],                    # empty
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["passes"] == 1
    assert out[2]["r_word_count"] == 0 and out[2]["passes"] == 0
    assert out[1]["r_mean_word_len"] == 1  # tot=90, 90*10 == 30*30
    assert out[3]["r_mean_word_len"] == 0
    assert out[4]["r_stopwords"] == 0 and out[1]["r_stopwords"] == 1
    assert out[5]["n_words"] == 0 and out[5]["passes"] == 0
    assert out[5]["r_mean_word_len"] == 0 and out[5]["r_alpha_frac"] == 0


def test_semantic_dedup_prunes_higher_id_within_cluster(spark):
    """Two identical vectors land in one cluster: the higher id is
    pruned, the lower kept; a far-away vector survives untouched."""
    from bigdata_project_hust_spark.operators.similarity import semantic_dedup
    v_near = [1.0] + [0.0] * 63
    v_far = [0.0] * 63 + [1.0]
    df = spark.createDataFrame(
        [(0, v_near), (1, v_near), (2, v_far)],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["is_kept"]
           for r in semantic_dedup(df, k=2, iters=1,
                                   min_sim_e6=950_000).collect()}
    assert out == {0: 1, 1: 0, 2: 1}


def _semdedup_vectors(spark, n, dim=8, seed=11):
    """Seeded vectors with every verify edge: zero-norm vectors (every
    10th), exact duplicates of a lower id and near-duplicates."""
    import random
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if i % 10 == 9:
            v = [0.0] * dim
        elif i % 7 == 3 and i > 3:
            v = list(rows[i - 3][1])
        elif i % 5 == 1:
            v = [x + rng.uniform(-0.05, 0.05) for x in rows[i - 1][1]]
        else:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _column_form_semdedup(df, k, iters, lsh_split_bits=0):
    """semantic_dedup's verify as the column expressions it used before
    the Arrow kernel: a ``_dot``/``_norm`` self-join on (cluster_id,
    __code), lower id first, zero-norm pairs dropped. Returns the
    members and the surviving (ida, idb, sim_e6) pairs."""
    from bigdata_project_hust_spark.operators.similarity import (
        _dot, _lsh_split_codes, _norm, kmeans_assign)
    a = kmeans_assign(df, k=k, iters=iters).select("vec_id", "cluster_id")
    m = a.join(df.select("vec_id", "embedding",
                         _norm(F.col("embedding")).alias("nrm")), "vec_id")
    if lsh_split_bits:
        m = m.join(_lsh_split_codes(df, lsh_split_bits), "vec_id")
    else:
        m = m.withColumn("__code", F.lit(0).cast("long"))
    lo = m.select("cluster_id", "__code", F.col("vec_id").alias("ida"),
                  F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    hi = m.select("cluster_id", "__code", F.col("vec_id").alias("idb"),
                  F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    sim_e6 = F.floor(_dot(F.col("va"), F.col("vb"))
                     / (F.col("na") * F.col("nb")) * 1e6).cast("long")
    pairs = (lo.join(hi, ["cluster_id", "__code"])
               .where(F.col("ida") < F.col("idb"))
               .where((F.col("na") > 0) & (F.col("nb") > 0))
               .select("ida", "idb", sim_e6.alias("sim_e6")))
    return m, pairs


def _column_form_keep(m, pairs, min_sim_e6):
    """{vec_id: (cluster_id, is_kept)} by the old lowest-id keeper."""
    losers = (pairs.where(F.col("sim_e6") >= F.lit(min_sim_e6))
                   .select(F.col("idb").alias("vec_id")).distinct())
    out = (m.join(losers.withColumn("lost", F.lit(1)), "vec_id", "left")
            .select("vec_id", "cluster_id",
                    F.when(F.col("lost").isNull(), 1).otherwise(0)
                     .cast("long").alias("is_kept")))
    return {r.vec_id: (r.cluster_id, r.is_kept) for r in out.collect()}


def test_semantic_dedup_verify_kernel_bit_equal_to_column_form(
        spark, monkeypatch):
    """The Arrow verify kernel decides every member exactly as the
    column-form self-join: at a threshold equal to a pair's sim_e6 and
    one above it, with duplicate and zero-norm vectors, one cluster
    larger than the kernel's row block (default and a 7-row block), and
    with the sign-LSH sub-split."""
    from bigdata_project_hust_spark.operators import similarity
    emb = _semdedup_vectors(spark, 300)

    def kernel(min_sim_e6, **kw):
        out = similarity.semantic_dedup(emb, min_sim_e6=min_sim_e6, **kw)
        return {r.vec_id: (r.cluster_id, r.is_kept) for r in out.collect()}

    m, pairs = _column_form_semdedup(emb, k=1, iters=1)
    # a member is pruned iff its best lower-id sim_e6 reaches the
    # threshold: at t = some member's best, t and t + 1 must differ
    levels = sorted(r[1] for r in pairs.groupBy("idb")
                    .agg(F.max("sim_e6")).collect())
    t = levels[len(levels) * 3 // 4]
    at, above = _column_form_keep(m, pairs, t), _column_form_keep(
        m, pairs, t + 1)
    assert at != above
    assert len(at) == 300 > similarity.SEMDEDUP_VERIFY_BLOCK_ROWS
    assert kernel(t, k=1, iters=1) == at
    assert kernel(t + 1, k=1, iters=1) == above
    monkeypatch.setattr(similarity, "SEMDEDUP_VERIFY_BLOCK_ROWS", 7)
    assert kernel(t, k=1, iters=1) == at
    m3, pairs3 = _column_form_semdedup(emb, k=3, iters=2, lsh_split_bits=3)
    assert kernel(t, k=3, iters=2, lsh_split_bits=3) == _column_form_keep(
        m3, pairs3, t)


def test_kmeans_and_semantic_dedup_partition_invariant(spark):
    """Same rows at any input partitioning (1 or 7), shuffle partition
    count (1, 4, 7) and AQE setting: the k-means partial sums are
    integers (merge order is free) and the verify sorts each group by
    id. Every value of each axis is covered, not their full product."""
    from bigdata_project_hust_spark.operators.similarity import (
        kmeans_assign, semantic_dedup)
    emb = _semdedup_vectors(spark, 120)
    conf = spark.conf
    saved = {key: conf.get(key) for key in (
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
    results = set()
    try:
        for aqe, parts, n_in in (("true", 4, 1), ("true", 4, 7),
                                 ("true", 1, 7), ("true", 7, 1),
                                 ("false", 7, 7), ("false", 1, 1)):
            conf.set("spark.sql.adaptive.enabled", aqe)
            conf.set("spark.sql.shuffle.partitions", str(parts))
            df = emb.repartition(n_in)
            km = sorted(map(tuple, kmeans_assign(df, k=4, iters=2).collect()))
            sd = sorted(map(tuple, semantic_dedup(
                df, k=4, iters=2, min_sim_e6=900_000).collect()))
            results.add((tuple(km), tuple(sd)))
    finally:
        for key, value in saved.items():
            conf.set(key, value)
    assert len(results) == 1
    (km, sd), = results
    assert len(km) == len(sd) == 120
    assert 0 < sum(1 for r in sd if r[2] == 0) < 120


def test_kmeans_and_semantic_dedup_empty_input(spark):
    """An empty input returns no rows under the declared schema."""
    from bigdata_project_hust_spark.operators.similarity import (
        kmeans_assign, semantic_dedup)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    km = kmeans_assign(empty, k=4)
    sd = semantic_dedup(empty)
    assert km.collect() == [] and sd.collect() == []
    assert km.schema.simpleString() == \
        "struct<vec_id:bigint,cluster_id:bigint,dist_q:bigint>"
    assert sd.schema.simpleString() == \
        "struct<vec_id:bigint,cluster_id:bigint,is_kept:bigint>"


def test_kmeans_and_semantic_dedup_ragged_embedding_raises(spark):
    """A vector narrower than the rest raises ValueError naming the
    widths seen, instead of the column form's NULL distance."""
    from bigdata_project_hust_spark.operators.similarity import (
        kmeans_assign, semantic_dedup)
    rows = [(i, [1.0, float(i)]) for i in range(10)]
    rows[6] = (6, [1.0])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=r"widths seen: \[1, 2\]"):
        kmeans_assign(df, k=2)
    with pytest.raises(ValueError, match=r"widths seen: \[1, 2\]"):
        semantic_dedup(df, k=2)


def test_kmeans_and_semantic_dedup_null_embedding_raises(spark):
    """A NULL vector, or one with a NULL component, raises ValueError
    naming the widths seen, from a round or from the seeds."""
    from bigdata_project_hust_spark.operators.similarity import (
        kmeans_assign, semantic_dedup)
    rows = [(i, [1.0, float(i)]) for i in range(10)]
    for bad in (None, [1.0, None]):
        rows[6] = (6, bad)
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match=r"widths seen: \[NULL, 2\]"):
            kmeans_assign(df, k=2)
        with pytest.raises(ValueError, match=r"widths seen: \[NULL, 2\]"):
            semantic_dedup(df, k=8)


def test_ccnet_buckets_partition_and_empty_doc(spark, tmp_path):
    """Buckets partition the corpus (head+middle+tail = docs with
    tokens); a whitespace-only document gets the 'empty' bucket.
    Exercises the REAL registry query over a fixture dir (an inline
    re-implementation could not catch a regression in it)."""
    from bigdata_project_hust_spark.plans.curation3 import (
        q_ccnet_perplexity_buckets)
    docs = ["common common common "
            + " ".join(f"rare{i}x{j}" for j in range(i))
            for i in range(8)]  # doc i: 3 common + i singleton tokens
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)] + [(99, "   ")],
        "doc_id long, text string")
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = q_ccnet_perplexity_buckets(spark, str(tmp_path)).collect()
    bs = {r["doc_id"]: r["ppl_bucket"] for r in out}
    assert bs[99] == "empty"
    from collections import Counter
    c = Counter(b for d, b in bs.items() if d != 99)
    assert c["head"] >= 1 and c["tail"] >= 1
    assert sum(c.values()) == 8


def test_bpe_top_merges_known_counts(spark, tmp_path):
    """Hand-checked merge counts: corpus 'aaab aaab cd' →
    'aa' appears 2 per 'aaab' occurrence (×2 docs... tf-weighted),
    'ab' 1 per occurrence, 'cd' once; single-char tokens contribute
    nothing."""
    from bigdata_project_hust_spark.plans.curation3 import q_bpe_top_merges
    df = spark.createDataFrame(
        [(0, "aaab aaab cd"), (1, "aaab x")],
        "doc_id long, text string")
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["pair"]: r["n_merges"]
           for r in q_bpe_top_merges(spark, str(tmp_path)).collect()}
    # vocab: aaab tf=3, cd tf=1, x tf=1 → aa: 2*3=6, ab: 1*3=3, cd: 1
    assert out == {"aa": 6, "ab": 3, "cd": 1}


def test_tukey_outliers_hand_values(spark, tmp_path):
    """n=5 values [1..4, 100]: quartiles interpolate on cents exactly;
    only the 100 crosses the upper fence."""
    import datetime

    from bigdata_project_hust_spark.plans.curation3 import (
        q_tukey_outlier_events)
    ts = datetime.datetime(2024, 1, 1)
    rows = [(i, ts, 1, "t", float(v), None)
            for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = q_tukey_outlier_events(spark, str(tmp_path)).collect()
    # cents [100..400, 10000]: q1=200, q3=400, iqr=200 → hi fence 700
    assert [(r["event_id"], r["price_c"], r["hi_fence_c"])
            for r in out] == [(4, 10000, 700)]


def _mk_events(spark, rows):
    import datetime
    base = datetime.datetime(2024, 1, 1)
    data = [(i, base + datetime.timedelta(seconds=s), u, t, 1.0, None)
            for i, (u, t, s) in enumerate(rows)]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def test_event_funnel_stage_semantics(spark):
    """u1 full chain in-window; u2 clicks BEFORE viewing (stage 1
    only); u3 clicks a day+1s after viewing (window missed); u4 never
    views (stage 0); purchase at the same second as click counts."""
    from bigdata_project_hust_spark.operators.eventflow import event_funnel
    rows = [
        (1, "view", 0), (1, "click", 100), (1, "purchase", 100),
        (2, "click", 0), (2, "view", 50), (2, "purchase", 60),
        # u2: click before the first view never re-fires; the purchase
        # needs a click at-or-after the view → stage 1
        (3, "view", 0), (3, "click", 86401),
        (4, "signup", 0),
    ]
    out = {r["funnel_stage"]: r["n_users"]
           for r in event_funnel(_mk_events(spark, rows)).collect()}
    assert out == {3: 1, 1: 2, 0: 1}


def test_retention_cohorts_triangle(spark):
    """u1 active days 0 and 2 (offsets 0, 2); u2 joins day 1, active
    days 1 and 2 (offsets 0, 1); duplicate events in one day count
    once."""
    from bigdata_project_hust_spark.operators.eventflow import (
        retention_cohorts)
    day = 86400
    rows = [
        (1, "view", 0), (1, "view", 10), (1, "click", 2 * day),
        (2, "view", 1 * day), (2, "view", 2 * day + 5),
    ]
    out = {(r["cohort_day"] - 19723, r["day_offset"]): r["n_active_users"]
           for r in retention_cohorts(_mk_events(spark, rows)).collect()}
    assert out == {(0, 0): 1, (0, 2): 1, (1, 0): 1, (1, 1): 1}


def test_hll_rho_and_determinism(spark):
    """rho: explicit bit positions via crafted longs; the sketch is a
    pure function of the value SET — shuffling rows/partitions or
    duplicating values cannot change any output column."""
    from pyspark.sql import functions as F

    from bigdata_project_hust_spark.operators.sketches import (
        _rho, hll_sketch)
    rows = [(1 << 51, 1), ((1 << 51) - 1, 2), (1, 52), (0, 53),
            ((1 << 52) - 1, 1)]
    df = spark.createDataFrame(rows, "w long, want int")
    got = df.select(_rho(F.col("w")).alias("rho"), "want").collect()
    assert all(r["rho"] == r["want"] for r in got), got

    vals = [(i,) for i in range(1000)]
    a = hll_sketch(spark.createDataFrame(vals, "v long"), "v").collect()
    b = hll_sketch(
        spark.createDataFrame(vals * 3, "v long").repartition(13),
        "v").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    est, exact = a[0]["hll_estimate"], a[0]["n_exact"]
    assert exact == 1000 and abs(est - exact) / exact <= 0.20


def test_pearson_exact_moments_known_values(spark, tmp_path):
    """y = 2x gives corr exactly 1e6; y = -3x gives -1e6; a constant
    column (zero variance) yields the 0 guard, not a divide error.
    Partitioning must not change any output (exact moments)."""
    from bigdata_project_hust_spark.plans.curation3 import (
        q_pearson_qty_price)
    rows = ([("A", float(x), float(2 * x)) for x in range(1, 20)]
            + [("N", float(x), float(90 - 3 * x)) for x in range(1, 20)]
            + [("R", float(x), 5.0) for x in range(1, 20)])
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, "
              "l_extendedprice double")
    df.repartition(7).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["l_returnflag"]: r["corr_e6"]
           for r in q_pearson_qty_price(spark, str(tmp_path)).collect()}
    assert out["A"] == 1_000_000
    assert out["N"] == -1_000_000
    assert out["R"] == 0


def test_cms_overestimate_contract_and_determinism(spark):
    """CMS never underestimates; with few distinct values estimates
    are invariant to partitioning and duplication order."""
    from bigdata_project_hust_spark.operators.sketches import cms_counts
    rows = [(f"k{i % 7}",) for i in range(500)]
    df = spark.createDataFrame(rows, "v string")
    a = sorted(tuple(r) for r in cms_counts(df, "v").collect())
    b = sorted(tuple(r)
               for r in cms_counts(df.repartition(11), "v").collect())
    assert a == b
    assert all(est >= exact for _, exact, est in a)


def test_bloom_no_false_negatives_bounded_fp(spark):
    """Every built key probes maybe_present=1; absent keys false-
    positive at the analytic rate (~1.5% at this fill), asserted
    under 6%."""
    from pyspark.sql import functions as F

    from bigdata_project_hust_spark.operators.sketches import (
        bloom_build, bloom_probe)
    present = spark.range(0, 2000).select(
        F.col("id").alias("o_custkey"))
    words = bloom_build(present, "o_custkey")
    hit = bloom_probe(
        words, present.select(F.col("o_custkey").alias("k")), "k")
    assert hit.where(F.col("maybe_present") == 0).count() == 0
    absent = spark.range(1_000_000, 1_002_000).select(
        F.col("id").alias("k"))
    fp = (bloom_probe(words, absent, "k")
          .where(F.col("maybe_present") == 1).count())
    assert fp / 2000 < 0.06, fp


def test_engine_facade_round3c_surface(spark):
    """Facade smoke for the round-3c additions: quality rules,
    semantic dedup, sketches, event flow, exact correlation."""
    from bigdata_project_hust_spark.api import Engine
    from bigdata_project_hust_spark.operators.similarity import (
        semantic_dedup)
    from bigdata_project_hust_spark.operators.sketches import (
        cms_counts, hll_sketch)
    eng = Engine(spark, "/root/testdata/sf0.001")
    assert "passes" in eng.query("gopher_quality_filter").columns
    assert semantic_dedup(eng.table("embeddings"), k=4, iters=1,
                          min_sim_e6=950_000).columns == [
        "vec_id", "cluster_id", "is_kept"]
    assert "ppl_bucket" in eng.query("ccnet_perplexity_buckets").columns
    assert eng.query("bpe_top_merges").count() > 0
    assert "funnel_stage" in eng.query("event_funnel").columns
    assert "day_offset" in eng.query("retention_cohorts").columns
    sk = hll_sketch(eng.table("orders"), "o_custkey").collect()[0]
    assert sk["n_exact"] > 0 and sk["hll_estimate"] > 0
    cm = cms_counts(eng.table("events"), "event_type")
    assert "cms_estimate" in cm.columns
    bl = eng.query("bloom_customer_orders")
    assert set(bl.columns) == {"key", "maybe_present"}
    assert "corr_e6" in eng.query("pearson_qty_price").columns
    assert "hi_fence_c" in eng.query("tukey_outlier_events").columns


def test_hll_merge_equals_sketch_of_union_and_idempotent(spark):
    """The sketch-algebra contract: merge(regs(A), regs(B)) must equal
    regs(A UNION ALL B) register-for-register, and merging a sketch
    with itself is a no-op."""
    from pyspark.sql import functions as F

    from bigdata_project_hust_spark.operators.sketches import (
        hll_merge, hll_registers)
    a = spark.range(0, 400).select(F.col("id").alias("k"))
    b = spark.range(300, 900).select(F.col("id").alias("k"))
    merged = sorted(tuple(r) for r in hll_merge(
        hll_registers(a, "k"), hll_registers(b, "k")).collect())
    direct = sorted(tuple(r) for r in hll_registers(
        a.unionByName(b), "k").collect())
    assert merged == direct
    self_merged = sorted(tuple(r) for r in hll_merge(
        hll_registers(a, "k"), hll_registers(a, "k")).collect())
    only = sorted(tuple(r) for r in hll_registers(a, "k").collect())
    assert self_merged == only


def test_equidepth_octiles_depths_roughly_equal(spark):
    """Eight buckets over sf0.001 orders: depths within 2x of n/8
    (exact octiles guarantee near-equal depth up to ties), buckets
    contiguous and ordered by their [lo, hi] ranges."""
    from bigdata_project_hust_spark.plans.curation3 import (
        q_equidepth_octiles)
    rows = sorted((r["bucket"], r["n_rows"], r["lo_c"], r["hi_c"])
                  for r in q_equidepth_octiles(
                      spark, "/root/testdata/sf0.001").collect())
    assert [b for b, *_ in rows] == list(range(8))
    n = sum(r[1] for r in rows)
    assert all(r[1] <= 2 * (n // 8) + 1 for r in rows), rows
    for (b1, _, _, hi), (b2, _, lo, _) in zip(rows, rows[1:]):
        assert hi <= lo, rows  # contiguous, non-overlapping ranges


def test_table_fingerprint_detects_any_row_change(spark, tmp_path):
    """The fingerprint is order-independent but value-sensitive:
    permuting rows keeps it; changing one value, dropping a row, or
    duplicating a row each move hash_sum."""
    from bigdata_project_hust_spark.plans.curation3 import (
        q_table_fingerprint)

    base = [(i, i % 7, "O", 100.0 + i, "1-URGENT") for i in range(50)]
    cols = ("o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string")

    def fp(rows, name):
        d = tmp_path / name
        spark.createDataFrame(rows, cols).repartition(5) \
            .write.parquet(str(d / "orders.parquet"))
        return tuple(q_table_fingerprint(spark, str(d)).collect()[0])

    a = fp(base, "a")
    b = fp(list(reversed(base)), "b")            # permuted
    c = fp(base[:-1] + [(49, 0, "F", 149.0, "1-URGENT")], "c")
    d2 = fp(base[:-1], "d")                      # dropped row
    e = fp(base + [base[0]], "e")                # duplicated row
    assert a == b
    assert a != c and a != d2 and a != e


def test_review_fixes_round3c_regressions(spark, tmp_path):
    """Regression pins for the session's review findings: zero-norm
    embeddings don't crash SemDeDup (ANSI 0/0); the empty-set HLL
    returns the exact (0, 0) sketch; CMS drops NULL keys by contract
    instead of silently losing the group post-join; pearson survives
    cents > 2^31.5 (pre-cast multiply overflowed LONG); fingerprint
    distinguishes rows that differ only in WHICH column is null."""
    from pyspark.sql import functions as F

    from bigdata_project_hust_spark.operators.similarity import (
        semantic_dedup)
    from bigdata_project_hust_spark.operators.sketches import (
        cms_counts, hll_sketch)
    from bigdata_project_hust_spark.plans.curation3 import (
        q_pearson_qty_price, q_table_fingerprint)

    zn = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 63), (1, [0.0] * 64), (2, [0.0] * 64)],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["is_kept"]
           for r in semantic_dedup(zn, k=2, iters=1).collect()}
    assert set(out.values()) <= {0, 1} and out[0] == 1

    empty = spark.createDataFrame([], "v long")
    sk = hll_sketch(empty, "v").collect()[0]
    assert (sk["n_exact"], sk["hll_estimate"],
            sk["n_zero_registers"]) == (0, 0, 256)

    withnull = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "v string")
    cm = {r["v"]: (r["n_exact"], r["cms_estimate"])
          for r in cms_counts(withnull, "v").collect()}
    assert None not in cm and cm["a"][0] == 2

    big = [("A", 1.0, 5.0e7), ("A", 2.0, 9.9e7), ("A", 3.0, 7.0e7)]
    spark.createDataFrame(
        big, "l_returnflag string, l_quantity double, "
             "l_extendedprice double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    r = q_pearson_qty_price(spark, str(tmp_path)).collect()
    assert len(r) == 1 and abs(r[0]["corr_e6"]) <= 1_000_000

    cols = ("o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string")

    def fp(rows, name):
        d = tmp_path / name
        spark.createDataFrame(rows, cols).write.parquet(
            str(d / "orders.parquet"))
        return tuple(q_table_fingerprint(spark, str(d)).collect()[0])

    a = fp([(1, None, "X", 1.0, "p")], "na")
    b = fp([(1, 7, None, 1.0, "p")], "nb")   # null moved one column
    assert a != b


# ---------------------------------------------------------------------------
# Round-4 additions: PQ ANN, ANN recall, BFS, priority sample, bigram LM
# ---------------------------------------------------------------------------


def test_pq_training_vectors_encode_to_themselves(spark):
    """A codebook training vector (one of the ks lowest ids) must
    encode with ZERO distortion — its slices ARE codewords; and a
    vector equal to training vector 2 gets vector 2's codes."""
    from bigdata_project_hust_spark.operators.similarity import pq_encode
    import random
    rng = random.Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(4)]
    rows = [(i, v) for i, v in enumerate(vecs)] + [(9, vecs[2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = pq_encode(df, m_sub=4, sub_dim=4, ks=4)
    got = {(r["vec_id"], r["m"]): (r["code"], r["dist_q"])
           for r in enc.collect()}
    for i in range(4):          # training vectors: own code, zero dist
        for m in range(4):
            assert got[(i, m)] == (i, 0)
    for m in range(4):          # copy of vec 2 → code 2, zero dist
        assert got[(9, m)] == (2, 0)


def test_pq_adc_exact_on_codebook_members(spark):
    """ADC distance to a vector that IS a codeword combination equals
    the exact grid distance: query = train vec 0, so its nearest ADC
    neighbor must be the duplicate of vec 0 at distance 0."""
    from bigdata_project_hust_spark.operators.similarity import pq_adc_topk
    import random
    rng = random.Random(13)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(4)]
    rows = [(i, v) for i, v in enumerate(vecs)] + [(7, vecs[0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = pq_adc_topk(df, query_id=0, k=2, m_sub=4, sub_dim=4, ks=4).collect()
    assert top[0]["vec_id"] == 7 and top[0]["adc_dist"] == 0


def test_bfs_hops_path_graph_and_bound(spark):
    """On the path 1-2-3-4-5 (undirected), hops from node 1 are
    0,1,2,3,4; with max_hops=2 nodes beyond 2 hops are omitted."""
    from bigdata_project_hust_spark.operators.graph import bfs_hops
    und = [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5)]]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long")
    full = {r["node"]: r["hops"] for r in bfs_hops(edges, 4).collect()}
    assert full == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    capped = {r["node"]: r["hops"] for r in bfs_hops(edges, 2).collect()}
    assert capped == {1: 0, 2: 1, 3: 2}


def test_priority_sample_prefers_heavy_rows_and_is_exhaustive(spark):
    """n >= rows returns every row ranked 1..n; a row with weight far
    above the rest lands at (or near) the top — here overwhelming
    weight beats any hash draw since u in (0, 1] bounds priority
    >= weight."""
    from bigdata_project_hust_spark.operators.curation import priority_sample
    rows = [(i, 10) for i in range(20)] + [(99, 10_000_000)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = priority_sample(df, n=30)
    got = out.collect()
    assert len(got) == 21
    assert sorted(r["rank"] for r in got) == list(range(1, 22))
    # priority(heavy) >= 1e7 (u <= 1); priority(light) = 10/u — beats
    # the heavy row only if u < 1e-6, impossible-by-construction here?
    # No: possible but astronomically unlikely AND deterministic —
    # assert the actual fixed outcome.
    assert got[0]["doc_id"] == 99 and got[0]["rank"] == 1


def test_bigram_logprob_hand_value_and_short_docs(spark):
    """Corpus 'a b' + 'a': one bigram (a,b); c2=1, c1(a)=2, c1(b)=1,
    N=3 → p = 0.7·(1/2) + 0.3·(1/3) = 0.45; score = floor(ln(0.45)·1e6).
    The 1-token and empty docs score (0, 0)."""
    import math
    from bigdata_project_hust_spark.operators.text import bigram_logprob
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a"), (3, "   ")], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["logprob_e6"])
           for r in bigram_logprob(df).collect()}
    expect = math.floor(math.log(0.7 * (1 / 2) + 0.3 * (1 / 3)) * 1e6)
    assert got[1] == (1, expect)
    assert got[2] == (0, 0) and got[3] == (0, 0)


def test_ann_recall_contract(spark):
    """hits <= exact, recall_e6 <= 1e6; with identical duplicate
    clusters the LSH buckets capture true neighbors (recall = 1 on a
    trivially separable set)."""
    from bigdata_project_hust_spark.operators.similarity import ann_recall
    base = [0.0] * 64
    def v(i, x):
        a = base[:]; a[i] = 1.0; a[(i + 1) % 64] = x; return a
    rows = []
    for g in range(3):                       # 3 tight clusters of 4
        for j in range(4):
            rows.append((g * 10 + j, v(g * 7, 0.01 * j)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ann_recall(df, k=3, sample_mod=10).collect()[0]
    assert out["n_hits"] <= out["n_exact"]
    assert out["recall_e6"] <= 1_000_000
    assert out["n_queries"] == 3             # ids 0, 10, 20
    assert out["recall_e6"] == 1_000_000     # clusters >> buckets apart


def test_sampled_cosine_pairs_degenerate_inputs(spark):
    """ADVICE r6: zero anchors returns an empty frame with the
    declared schema (np.stack raised before); a zero-norm vector
    yields sim_e6 NULL (try_divide contract) instead of numpy's
    undefined NaN→int64 cast."""
    from bigdata_project_hust_spark.operators.similarity import (
        _sampled_cosine_pairs)
    # no id divisible by 5 → empty anchor sample
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (6, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = _sampled_cosine_pairs(df, 5, "vec_id", "embedding")
    assert out.count() == 0
    assert out.columns == ["qid", "nid", "sim_e6"]
    # zero-norm vector: every pair touching id 1 has NULL sim_e6
    df2 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = {(r.qid, r.nid): r.sim_e6
           for r in _sampled_cosine_pairs(df2, 1, "vec_id",
                                          "embedding").collect()}
    assert got[(0, 1)] is None and got[(1, 2)] is None
    assert got[(0, 2)] == 707106 and got[(2, 0)] == 707106


def test_bloom_prune_keeps_all_true_matches(spark):
    """Composing bloom_prune before an exact join returns EXACTLY the
    plain join result (no false negatives, FPs removed by the join);
    the pruned row set is a superset of true matches and drops most
    non-members."""
    from bigdata_project_hust_spark.operators.sketches import (
        bloom_build, bloom_prune)
    keys = spark.createDataFrame([(i,) for i in range(50)], "k long")
    facts = spark.createDataFrame(
        [(i, i % 400) for i in range(4000)], "row_id long, fk long")
    words = bloom_build(keys, "k")
    pruned = bloom_prune(words, facts, "fk")
    true_rows = facts.join(keys, facts.fk == keys.k).count()
    pruned_then_join = pruned.join(keys, pruned.fk == keys.k).count()
    assert pruned_then_join == true_rows == 500   # 50 of 400 fks × 10
    n_pruned = pruned.count()
    assert n_pruned >= 500            # superset of matches
    assert n_pruned < 4000            # actually prunes


def test_ivf_pq_finds_exact_duplicate_in_probed_list(spark):
    """A duplicate of the query vector lives in the query's own
    coarse list and shares its PQ codes → ADC distance 0, rank 1."""
    from bigdata_project_hust_spark.operators.similarity import ivf_pq_topk
    import random
    rng = random.Random(17)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(6)]
    rows = [(i, v) for i, v in enumerate(vecs)] + [(11, vecs[0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = ivf_pq_topk(df, query_id=0, k=3, n_centroids=4, nprobe=2,
                      m_sub=4, sub_dim=4, ks=4).collect()
    assert top[0]["vec_id"] == 11 and top[0]["adc_dist"] == 0


def test_subword_piece_counts_hand_segmentation(spark):
    """'theater' → the|at|er (3), 'a' → 1, 'thingin' → th|ing|in
    (3), 'zzz' → 3 singles; empty doc → (0, 0)."""
    from bigdata_project_hust_spark.operators.text import (
        subword_piece_counts)
    df = spark.createDataFrame(
        [(1, "theater a thingin zzz"), (2, "  ")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_pieces"])
           for r in subword_piece_counts(df).collect()}
    assert got[1] == (4, 3 + 1 + 3 + 3)
    assert got[2] == (0, 0)


def test_engine_facade_round4_surface(spark):
    """Facade smoke for the round-4 additions: PQ/IVF-PQ ANN, recall
    gate, BFS, weighted sampling, LM scores, subword counts, Bloom
    pruning."""
    from bigdata_project_hust_spark.api import Engine
    from bigdata_project_hust_spark.operators import similarity
    from bigdata_project_hust_spark.operators.curation import (
        priority_sample)
    from bigdata_project_hust_spark.operators.graph import (
        bfs_hops, supplier_customer_edges)
    from bigdata_project_hust_spark.operators.sketches import (
        bloom_build, bloom_prune)
    eng = Engine(spark, "/root/testdata/sf0.001")
    emb = eng.table("embeddings")
    assert set(similarity.pq_encode(emb).columns) == {
        "vec_id", "m", "code", "dist_q"}
    assert similarity.pq_adc_topk(emb, query_id=0, k=3).count() == 3
    assert similarity.ivf_pq_topk(emb, query_id=0, k=3).count() <= 3
    rc = similarity.ann_recall(emb, k=3, sample_mod=50).collect()[0]
    assert rc["n_hits"] <= rc["n_exact"]
    edges = supplier_customer_edges(eng.table("lineitem"),
                                    eng.table("orders"))
    assert bfs_hops(edges, max_hops=2).count() > 0
    ws = priority_sample(eng.table("documents"), n=5)
    assert [r["rank"] for r in ws.collect()] == [1, 2, 3, 4, 5]
    assert "logprob_e6" in eng.query("text_bigram_logprob").columns
    assert "n_pieces" in eng.query("subword_piece_counts").columns
    pruned = bloom_prune(bloom_build(eng.table("orders"), "o_orderkey"),
                         eng.table("lineitem"), "l_orderkey")
    assert pruned.count() == eng.table("lineitem").count()  # all match


def assert_prefix_kernel_matches_oracle(spark, rows):
    """The prefix-indexed kernel returns exactly the naive
    inverted-index join (same pairs, same exact Jaccard counts),
    computed independently by the ORACLE_NGRAM SQL in DuckDB over the
    same rows."""
    import duckdb
    import pandas as pd
    from bigdata_project_hust_spark.operators.dedup import (
        ngram_jaccard_pairs)
    from bigdata_project_hust_spark.plans.queries import ORACLE_NGRAM
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {tuple(r) for r in ngram_jaccard_pairs(df).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {tuple(int(v) for v in r)
            for r in con.execute(ORACLE_NGRAM).fetchall()}
    con.close()
    assert got == want and len(want) > 0, rows[0]


def test_prefix_join_equals_naive_join(spark):
    """Prefix filtering is LOSSLESS: on a corpus with a ubiquitous
    shared shingle plus one genuinely near-duplicate pair, the
    prefix-indexed join returns exactly the naive inverted-index
    result."""
    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, f"{common} filler{i} wing{i} item{i}") for i in range(8)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta"),
             (101, "alpha beta gamma delta epsilon zeta theta")]
    assert_prefix_kernel_matches_oracle(spark, rows)


def test_minhash_sig_gate_branches_agree(spark, monkeypatch):
    """The MinHash signature table is materialized only past the
    shingle-count gate (a measured scale crossover), so the barrier
    must be plan-only: forcing the materialized branch on a tiny
    corpus (gate constant 0) returns the lazy branch's rows."""
    from bigdata_project_hust_spark.operators import dedup
    text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [(1, text), (2, text + "iota"), (3, "unrelated words only here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    labels = []
    real = dedup.materialize
    monkeypatch.setattr(
        dedup, "materialize",
        lambda frame, label="intermediate", **kw:
            labels.append(label) or real(frame, label, **kw))
    out = {}
    for gate in (dedup.MINHASH_SIG_MAT_MIN_SHINGLES, 0):
        monkeypatch.setattr(dedup, "MINHASH_SIG_MAT_MIN_SHINGLES", gate)
        labels.clear()
        out[gate] = {tuple(r) for r in
                     dedup.minhash_near_duplicates(df).collect()}
        assert ("minhash_sig" in labels) == (gate == 0), labels
    lazy, mat = out.values()
    assert mat == lazy and len(lazy) > 0


def test_hash_embedding_mass_and_determinism(spark):
    """Every token contributes exactly one ±1: Σ|components| ≤
    n_tokens with equality iff no bucket cancellation; a 1-token doc
    has exactly one nonzero component (±1); empty doc → zero vector;
    two runs are identical."""
    from bigdata_project_hust_spark.operators.text import hash_embedding
    df = spark.createDataFrame(
        [(1, "hello"), (2, "  "), (3, "a b c d e")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["emb"] for r in hash_embedding(df).collect()}
    assert sum(abs(c) for c in got[1]) == 1
    assert all(c == 0 for c in got[2])
    assert sum(abs(c) for c in got[3]) <= 5
    assert sum(c % 2 for c in got[3]) % 2 == (5 % 2)  # parity preserved
    again = {r["doc_id"]: r["emb"] for r in hash_embedding(df).collect()}
    assert again == got


def test_retrieval_hash_topk_finds_exact_duplicate(spark):
    """A verbatim copy of the query document embeds identically →
    cosine 1.0 (sim_e6 = 1e6) at rank 1 through the full
    text→vector→ANN chain."""
    from bigdata_project_hust_spark.operators.similarity import cosine_topk
    from bigdata_project_hust_spark.operators.text import hash_embedding
    rows = [(0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "completely different words here entirely"),
            (3, "more unrelated text tokens again")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb = hash_embedding(df)
    top = cosine_topk(emb, query_id=0, k=2,
                      id_col="doc_id", vec_col="emb").collect()
    # identical vectors: cosine 1.0 up to one FP ulp in
    # sqrt(d)·sqrt(d), which the e6 floor can expose as 999999
    assert top[0]["doc_id"] == 1 and top[0]["sim_e6"] >= 999_999


def test_hll_group_rollup_property_holds(spark):
    """The merged per-group registers must equal the direct global
    sketch (flag = 1 on every row) and per-group exacts must sum to
    >= the global distinct (overlap across groups allowed)."""
    from bigdata_project_hust_spark.plans.queries import QUERIES
    rows = QUERIES["hll_group_rollup"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5
    assert all(r["rollup_matches_direct"] == 1 for r in rows)
    assert all(r["n_exact"] > 0 for r in rows)


def test_incremental_join_view_equals_recompute(spark):
    """view ∪ (Δfact ⋈ dim) == (fact ∪ Δfact) ⋈ dim on constructed
    data with unmatched delta keys (dropped by the inner join, not
    nulled in)."""
    from bigdata_project_hust_spark.operators.joins import (
        incremental_join_view)
    dim = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, name string")
    base = spark.createDataFrame([(10, 1), (11, 2)], "id long, fk long")
    delta = spark.createDataFrame(
        [(12, 1), (13, 99)], "id long, fk long")  # 99 unmatched
    view = (base.join(dim, base.fk == dim.k)
                .select("id", "k", "name"))
    inc = incremental_join_view(view, delta, dim, "fk", "k")
    full = (base.union(delta).join(dim, F.col("fk") == dim.k)
                .select("id", "k", "name"))
    assert sorted(map(tuple, inc.collect())) == \
        sorted(map(tuple, full.collect()))
    assert inc.count() == 3  # id 13 dropped


def test_pandas_gmean_hand_value(spark):
    """gmean of {e^1, e^3} = e^2: floor(e2·100) = 738; the UDF is
    the GROUPED_AGG (whole-group) flavor."""
    import math
    from bigdata_project_hust_spark.plans.round4 import (
        q_pandas_gmean_prices)
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [("A", math.e), ("A", math.e ** 3), ("B", 1.0)],
            "l_returnflag string, l_extendedprice double") \
            .write.parquet(os.path.join(d, "lineitem.parquet"))
        got = {r["l_returnflag"]: (r["gmean_e2"], r["n_items"])
               for r in q_pandas_gmean_prices(spark, d).collect()}
    assert got["A"] == (math.floor(math.e ** 2 * 100), 2)
    assert got["B"] == (100, 1)


def test_event_pattern_matches_hand_journey(spark):
    """Journey 'vcpvep' (ordered by ts) contains two v[ce]*p matches;
    'vvce' (no purchase) contains zero; ties on ts break by
    event_id."""
    from datetime import datetime
    from bigdata_project_hust_spark.operators.eventflow import (
        event_pattern_matches)
    t0 = datetime(2024, 1, 1)
    rows = []
    for i, et in enumerate(["view", "click", "purchase",
                            "view", "error", "purchase"]):
        rows.append((1, i, datetime(2024, 1, 1, 0, i), et))
    # user 2: same ts for all rows — order must come from event_id
    for i, et in enumerate(["view", "view", "click", "error"]):
        rows.append((2, 100 + i, t0, et))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
              "event_type string")
    got = {r["user_id"]: (r["journey"], r["n_matches"])
           for r in event_pattern_matches(df).collect()}
    assert got[1] == ("vcpvep", 2)
    assert got[2] == ("vvce", 0)


def test_ivfadc_duplicate_has_zero_residual_distance(spark):
    """A duplicate of the query vector shares its centroid AND its
    residual codes → ADC distance 0 at rank 1; residual encoding also
    gives a codebook member zero self-distortion."""
    from bigdata_project_hust_spark.operators.similarity import ivfadc_topk
    import random
    rng = random.Random(23)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(6)]
    rows = [(i, v) for i, v in enumerate(vecs)] + [(11, vecs[0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = ivfadc_topk(df, query_id=0, k=3, n_centroids=4, nprobe=2,
                      m_sub=4, sub_dim=4, ks=4).collect()
    assert top[0]["vec_id"] == 11 and top[0]["adc_dist"] == 0


def test_fuzzy_join_ed1_blocking_is_lossless(spark):
    """Deletion-neighborhood candidates find every ed≤1 pair:
    substitution, deletion, and exact-duplicate cases all surface;
    an ed=2 pair does not."""
    from bigdata_project_hust_spark.operators.dedup import fuzzy_join_ed1
    rows = [(1, "kitten"), (2, "mitten"), (3, "kitte"),
            (4, "kitten"), (5, "sitting")]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_join_ed1(df, "s", "id").collect()}
    assert got == {(1, 2): 1,   # substitution k→m
                   (1, 3): 1,   # deletion of final n
                   (1, 4): 0,   # exact duplicate
                   (2, 4): 1, (3, 4): 1}
    # (x, 5) absent: sitting is ed>=2 from everything else


def test_entity_resolution_transitive_closure(spark):
    """a~b and b~c (but a!~c) must land in ONE entity; unrelated
    rows keep themselves as entity id."""
    from bigdata_project_hust_spark.operators.dedup import (
        connected_components, fuzzy_join_ed1)
    from pyspark.sql import functions as F
    rows = [(10, "abcd"), (11, "abce"), (12, "abee"), (30, "zzzz")]
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    pairs = fuzzy_join_ed1(df, "c_name", "c_custkey")
    comp = connected_components(pairs, "id_a", "id_b")
    out = (df.select("c_custkey")
             .join(comp.withColumnRenamed("node", "c_custkey"),
                   "c_custkey", "left")
             .select("c_custkey",
                     F.coalesce("component", F.col("c_custkey"))
                      .alias("entity_id")))
    got = {r["c_custkey"]: r["entity_id"] for r in out.collect()}
    assert got == {10: 10, 11: 10, 12: 10, 30: 30}


def test_grid_radius_join_boundaries(spark):
    """Points exactly at radius match (<=); one unit past does not;
    cross-cell neighbors are found (the 3×3 probe), and same-cell
    duplicates at distance 0 match."""
    from bigdata_project_hust_spark.operators.joins import grid_radius_join
    r = 10
    rows = [(1, 0, 0), (2, 10, 0),     # exactly r apart, adjacent cells
            (3, 95, 95), (4, 101, 103),  # cross-cell, dist2=36+64=100
            (5, 0, 0),                 # duplicate of 1
            (6, 500, 500)]             # isolated
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {(r_["id_a"], r_["id_b"]): r_["dist2"]
           for r_ in grid_radius_join(df, "id", "x", "y", r).collect()}
    assert got == {(1, 2): 100, (2, 5): 100, (3, 4): 100, (1, 5): 0}


def test_weighted_median_hand_values(spark, tmp_path):
    """Weighted median with hand weights: values 10,20,30 with
    weights 1,1,2 → cum 1,2,4 vs total 4 → first 2·cum ≥ 4 is value
    20; a single-row group returns its own value."""
    import os
    from bigdata_project_hust_spark.plans.round4 import (
        q_weighted_median_price)
    rows = [("A", 0.10, 1.0), ("A", 0.20, 1.0), ("A", 0.30, 2.0),
            ("B", 0.50, 3.0)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, "
              "l_quantity double") \
        .write.parquet(os.path.join(d, "lineitem.parquet"))
    got = {r["l_returnflag"]: (r["wmedian_c"], r["total_weight"])
           for r in q_weighted_median_price(spark, d).collect()}
    assert got == {"A": (20, 4), "B": (50, 3)}


def test_event_transitions_probabilities_sum(spark):
    """Per-from-type probabilities floor-sum to ≤ 1e6 and each count
    is consistent; a 2-user interleaved stream never produces
    cross-user transitions."""
    from datetime import datetime
    from bigdata_project_hust_spark.plans.round4 import (
        q_event_transition_matrix)
    import os, tempfile
    rows = []
    for u, seq in ((1, ["view", "click", "view"]),
                   (2, ["click", "purchase"])):
        for i, et in enumerate(seq):
            rows.append((u * 100 + i, datetime(2024, 1, 1, 0, i), u, et,
                         1.0, "{}"))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string") \
            .write.parquet(os.path.join(d, "events.parquet"))
        out = q_event_transition_matrix(spark, d).collect()
    got = {(r["from_type"], r["to_type"]): (r["n"], r["p_e6"])
           for r in out}
    assert got == {("view", "click"): (1, 1_000_000),
                   ("click", "view"): (1, 500_000),
                   ("click", "purchase"): (1, 500_000)}


def test_engine_has_no_duplicate_method_definitions():
    """Guard against F811 shadowing inside the Engine facade: a second
    `def` of the same name silently replaces the first (this bit us in
    r3 — a KMV `distinct_sketch` shadowed the HLL one). Parse the AST
    and assert every method name in the class body is unique."""
    import ast
    import collections
    import inspect

    from bigdata_project_hust_spark import api

    tree = ast.parse(inspect.getsource(api))
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and node.name == "Engine":
            names = [n.name for n in node.body
                     if isinstance(n, (ast.FunctionDef,
                                       ast.AsyncFunctionDef))]
            dupes = [n for n, c in collections.Counter(names).items()
                     if c > 1]
            assert not dupes, f"duplicate Engine methods: {dupes}"
            break
    else:
        raise AssertionError("Engine class not found in api.py")


def _ppm_from_rows(px_rows):
    """P6 bytes from [[(r,g,b),...],...] (row-major nested lists)."""
    h = len(px_rows)
    w = len(px_rows[0])
    body = bytes(c for row in px_rows for px in row for c in px)
    return b"P6\n%d %d\n255\n" % (w, h) + body


def test_extract_pixel_stats_exact_integers(spark):
    # hand-computable 2x2 image
    img = [[(10, 20, 30), (40, 50, 60)],
           [(70, 80, 90), (0, 255, 0)]]
    df = spark.createDataFrame(
        [(1, _ppm_from_rows(img)), (2, b"not an image")],
        "asset_id long, payload binary")
    out = {r.asset_id: r for r in
           multimodal.extract_pixel_stats(df).collect()}
    ok = out[1]
    assert ok.ok and ok.width == 2 and ok.height == 2 and ok.n_px == 4
    assert (ok.sum_r, ok.sum_g, ok.sum_b) == (120, 405, 180)
    g = [[60, 150], [240, 255]]
    assert ok.min_gray3 == 60 and ok.max_gray3 == 255
    assert ok.sum_hgrad3 == abs(150 - 60) + abs(255 - 240)
    assert ok.sum_vgrad3 == abs(240 - 60) + abs(255 - 150)
    assert not out[2].ok and out[2].sum_r is None


def test_extract_features_real_default_and_fake_seam(spark):
    img = [[(255, 0, 0)] * 2] * 2  # solid red 2x2
    df = spark.createDataFrame(
        [(1, _ppm_from_rows(img)), (2, b"plain text payload")],
        "asset_id long, payload binary") \
        .withColumn("kind", F.lit("image"))
    real = {r.asset_id: r for r in
            multimodal.extract_features(df).collect()}
    # decodable payload: real pixel stats (solid red => mean R = 1.0)
    assert real[1].feature is not None
    assert abs(real[1].feature[0] - 1.0) < 1e-12
    assert abs(real[1].feature[1]) < 1e-12
    # undecodable payload: NULL feature, metadata intact — no silent fake
    assert real[2].feature is None and real[2].n_bytes == 18
    fake = {r.asset_id: r for r in
            multimodal.extract_features(df, fake=True).collect()}
    assert fake[2].feature is not None  # the test seam still works


def test_jaccard_verify_rekey_is_lossless_and_distributed(spark):
    """Rekeying shingles to dense integer ids (what the n-gram Jaccard
    kernels do before the verify) must return the exact rows of the
    string path — jaccard is invariant under a bijection — and the
    rank that builds the ids must be PARTITIONED (round-9: the old
    row_number over a global orderBy was a single-task sort of the
    whole vocabulary). A zero threshold is rejected: it would keep
    disjoint pairs."""
    from bigdata_project_hust_spark.operators import dedup
    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over a lazy dog",
             "entirely different words here now",
             "the quick brown fox leaps over the lazy dog",
             "short one", "short one two"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    sh = dedup.shingles(df, "text", "doc_id", 2)
    ids = df.select("doc_id")
    pairs = (ids.select(F.col("doc_id").alias("doc_a"))
             .crossJoin(ids.select(F.col("doc_id").alias("doc_b")))
             .where(F.col("doc_a") < F.col("doc_b")))
    base = sorted(map(tuple, dedup.jaccard_verify(
        pairs, sh, "doc_id", 3, 10).collect()))
    rk_sh = (sh.join(dedup.dense_ids(sh.select("sh").distinct(), "sh"),
                     "sh")
             .select("doc_id", F.col("__sid").alias("sh")))
    rk = dedup.jaccard_verify(pairs, rk_sh, "doc_id", 3, 10)
    assert sorted(map(tuple, rk.collect())) == base and len(base) >= 2
    with pytest.raises(ValueError, match="threshold_num"):
        dedup.jaccard_verify(pairs, sh, "doc_id", 0, 10)
    # the id assignment itself: a dense 1..n bijection built from ONE
    # range exchange — the per-partition rank is bit-ops over
    # monotonically_increasing_id on the sorted partition, so there
    # must be NO window over the vocabulary at all and no second
    # (hash) exchange of it (ADVICE r9 #3).
    # materialize_ranked=False so the plan assert can SEE the rank
    # stage (the production default hides it behind the barrier)
    ids = dedup.dense_ids(sh.select("sh").distinct(), "sh",
                          materialize_ranked=False)
    rows = ids.collect()
    n = sh.select("sh").distinct().count()
    assert sorted(r["__sid"] for r in rows) == list(range(1, n + 1))
    assert len({r["sh"] for r in rows}) == n
    plan = ids._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(sh" not in plan          # no global sort
    assert "monotonically_increasing_id" in plan          # the rank mechanism
    assert "rangepartitioning" in plan                    # the one exchange
    # the old double-shuffle shape ranked via a window PARTITIONED by
    # pid and ORDERED by the value — its spec mentions both columns.
    # The only __pid window left is the nparts-row offsets cumsum
    # (ordered by __pid alone, no value column).
    import re
    assert not re.search(r"windowspecdefinition\(__pid#\d+, sh#", plan)
