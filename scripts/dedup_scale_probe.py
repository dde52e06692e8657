"""Dedup-family scale probe (round 8): the graph family has a 10×
probe (scripts/graph_scale_probe.py); this is the same evidence for
the banded-dedup operators, whose 100 TB claims (LSH band space,
SimHash block pairs, PPJoin rarest-prefix index — never all-pairs)
are otherwise only argued from plan shape, because the sf0.1
documents table (5k rows) is stage-overhead-dominated.

The N× corpus is the sf0.1 documents table unioned with id-shifted
copies whose TEXT is deterministically re-lettered per copy
(translate() through a rotated alphabet): token boundaries,
lengths, and the intra-copy duplicate structure are preserved
EXACTLY — every copy contributes the same dup pairs as the original
— while cross-copy shingles/terms are disjoint, so the output grows
linearly (pairs × N) and the measured ratio isolates the ENGINE's
candidate-generation scaling, not an output blow-up. A quadratic
candidate stage would show ratio ≈ N²; the banded designs should
stay near N (exponent ≈ 1 on the log-N scale, like the graph
probe's).

Usage: python scripts/dedup_scale_probe.py [N] [reps]   (default 10 2)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

SHIFT = 10_000_000
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from bigdata_project_hust_spark.checkpoint import release_all
    from bigdata_project_hust_spark import io as gio
    from bigdata_project_hust_spark.operators import dedup

    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions",
                     os.environ.get("SPARK_GRAFT_PROBE_PARTS", "32"))
             .config("spark.driver.memory", "48g")
             .appName("dedup-scale-probe").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    d1 = gio.load_table(spark, "/root/testdata/sf0.1", "documents") \
        .select("doc_id", "text", "source").localCheckpoint()
    if n_copies > 52:
        # digit-suffix laps are only collision-free if the corpus has
        # no digits of its own
        dirty = d1.where(F.col("text").rlike("[0-9]")).count()
        assert dirty == 0, f"{dirty} docs contain digits — lap 3 unsafe"
    copies = []
    for k in range(n_copies):
        # rotation alone wraps at 26 (a 30x run made copies 26-29
        # exact duplicates of 0-3 and blew output up super-linearly
        # by construction); the second lap additionally REVERSES the
        # text — reversal bijectively maps n-token shingle windows to
        # reversed windows, so intra-copy Jaccard structure is still
        # preserved exactly, and rot+reverse pairs are unique for
        # k < 52
        # laps 3-4 (k 52..103) additionally append a digit to EVERY
        # token — the corpus is pure lowercase a-z (asserted below),
        # so digit-suffixed tokens are disjoint from every rot/reverse
        # lap, and the suffix is a token bijection: n-gram windows,
        # token counts, and intra-copy Jaccard structure map exactly,
        # same invariant as the first two laps.
        if n_copies > 104:
            raise SystemExit("N > 104 needs a fifth lap transform")
        rot = ALPHA[k % 26:] + ALPHA[:k % 26]
        txt = F.translate(F.col("text"), ALPHA + ALPHA.upper(),
                          rot + rot.upper())
        if k % 52 >= 26:
            txt = F.reverse(txt)
        if k >= 52:
            txt = F.array_join(F.transform(
                F.split(txt, " "), lambda x: F.concat(x, F.lit("0"))),
                " ")
        copies.append(d1.select(
            (F.col("doc_id") + F.lit(k * SHIFT)).alias("doc_id"),
            txt.alias("text"), F.col("source")))
    dn = copies[0]
    for c in copies[1:]:
        dn = dn.unionAll(c)
    dn = dn.localCheckpoint()
    print(f"docs: 1x={d1.count():,} {n_copies}x={dn.count():,}",
          flush=True)

    ops = {
        "exact_md5": lambda d: dedup.exact_duplicates(d).count(),
        "minhash_lsh": lambda d: dedup.minhash_near_duplicates(d).count(),
        "simhash": lambda d: dedup.simhash_near_duplicates(d).count(),
        "ppjoin_prefix": lambda d: dedup.ngram_jaccard_pairs(d).count(),
        "span_dedup": lambda d: dedup.span_duplicates(d, n=20).count(),
    }
    import math
    for name, fn in ops.items():
        t = {}
        counts = {}
        for tag, d in (("1x", d1), (f"{n_copies}x", dn)):
            times = []
            for _ in range(reps):
                t0 = time.time()
                counts[tag] = fn(d)
                times.append(time.time() - t0)
                spark.catalog.clearCache()
                release_all(spark)
            t[tag] = statistics.median(times)
            print(f"{name:14s} {tag:>4s} median {t[tag]:6.2f}s "
                  f"(pairs/groups={counts[tag]:,})", flush=True)
        big = f"{n_copies}x"
        ratio = t[big] / t["1x"] if t["1x"] else float("nan")
        exp = (math.log(ratio) / math.log(n_copies)
              if n_copies > 1 else float("nan"))
        lin = counts[big] / max(counts["1x"], 1)
        print(f"{name:14s} ratio {ratio:.2f}x at {n_copies}x docs "
              f"(exponent {exp:.2f}); output grew {lin:.2f}x "
              f"(linear = {n_copies}.00x)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
