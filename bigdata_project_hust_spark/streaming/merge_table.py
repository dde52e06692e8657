"""MERGE INTO over a hash-bucketed copy-on-write parquet table.

The cluster-real upsert path sketched in ``sinks.KeyedParquetStore``'s
docstring (reference semantics: Mongo ``UpdateOne(upsert=True)`` bulk
writes, consumer2.py:143-157,193-241): where ``KeyedParquetStore``
rewrites the WHOLE table per upsert (fine for small serving state,
wrong at 100 TB), ``MergeIntoParquetTable`` implements the
Delta/Iceberg ``MERGE INTO`` shape without the table-format dependency
(not installable in this sandbox):

* rows are assigned to ``n_buckets`` hash buckets of the merge key
  (``stable_hash64`` — deterministic); the manifest maps each bucket
  to the segment that holds its current rows;
* a MERGE reads and rewrites ONLY the buckets that contain source
  keys, and writes their merged rows as ONE new parquet segment
  ``seg-v{n}`` (a plain write: rows carry ``__bucket`` and ``__v = n``,
  sorted by bucket within each file). Untouched buckets keep their
  pointer and their segment's files stay in place, zero I/O — the
  analogue of Delta's file-level pruning on a merge;
* a snapshot read is one scan of the distinct segments its buckets
  point at, keeping a row only when ``__v`` is its bucket's pointer;
* the commit is one atomic manifest swap (``os.replace``), so readers
  always see a consistent snapshot and a crash never leaves a
  half-merged table — identical protocol to ``KeyedParquetStore``,
  which matches the snapshot-pointer commit of the real formats;
* ``epoch_id`` dedup gives exactly-once effect under foreachBatch
  retries.

Merge semantics follow the SQL MERGE clauses:
``when_matched`` = ``"replace"`` (source row wins), ``"delete"``
(drop matched target rows), or a ``{col: sql_expr}`` update set where
the expr may reference ``t_<col>`` (target) and ``s_<col>`` (source),
e.g. ``{"cnt": "t_cnt + s_cnt"}`` for the $inc merge;
``when_not_matched`` = ``"insert"`` or ``"ignore"``.

The source is read once per merge: it is cached, and one map-only
pass fills the cache while observing the NULL-key count and the
touched bucket ids (metadata-scale, <= n_buckets values); the source's
duplicate keys are dropped inside the write plan. The buckets a merge
empties are observed on the write job itself. The manifest carries
the segments' schema, so reading the target starts no footer job.

Caveats shared with Delta: a uniformly-hashed source touching
>> n_buckets keys rewrites most buckets; clustering the key space
(bucket = range of a sort key) is the layout fix, orthogonal to the
merge protocol. And space amplification: a segment stays on disk
while any retained snapshot has one bucket pointing at it, so many
sparse merges leave a snapshot spanning many small, mostly-superseded
segments — ``compact(n)`` rewrites the buckets of every segment of
more than ``n`` files into one new segment, and the old ones go once
no retained snapshot points at them.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructType

from ..functions.scalar import stable_hash64

_MANIFEST = "_manifest.json"


class MergeIntoParquetTable:
    """Keyed copy-on-write parquet table with bucket-pruned MERGE."""

    def __init__(self, spark, path: str, key: str, n_buckets: int = 64,
                 retain_versions: int = 2):
        self.spark = spark
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        self.retain_versions = max(1, retain_versions)
        os.makedirs(path, exist_ok=True)
        self._manifest = os.path.join(path, _MANIFEST)

    # -- snapshot state -------------------------------------------------
    def _state(self) -> dict:
        if os.path.exists(self._manifest):
            with open(self._manifest) as f:
                return json.load(f)
        return {"version": 0, "buckets": {}, "epochs": []}

    def _bucket_col(self) -> F.Column:
        return F.pmod(stable_hash64(F.col(self.key).cast("string")),
                      F.lit(self.n_buckets)).cast("long")

    def _seg_path(self, v: int) -> str:
        return os.path.join(self.path, f"seg-v{int(v)}")

    def read(self, version: int | None = None) -> DataFrame | None:
        """Snapshot read (no internal columns), or None if empty.

        ``version=None`` reads the current snapshot; an integer reads
        that historical snapshot (time travel) as long as its manifest
        and segments are still retained (``vacuum`` keeps
        ``retain_versions`` history)."""
        st = self._state() if version is None else self._version_state(
            version)
        return self._read_buckets(st, [int(b) for b in st["buckets"]])

    def _version_state(self, version: int) -> dict:
        p = os.path.join(self.path, f"_manifest-v{version}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"snapshot v{version} not retained (vacuumed or never "
                f"written): {p}")
        with open(p) as f:
            return json.load(f)

    def change_feed(self, v_from: int, v_to: int | None = None):
        """Change data feed between two retained snapshots: one row per
        changed key with change_type I/U/D plus every current column —
        the Delta CDF / Iceberg changelog analogue, derived rather than
        stored (no extra write-path cost; the price is reading both
        snapshots). Composition: time-travel read(v_from) vs read(v_to)
        through :func:`operators.joins.snapshot_diff` — key + 8-byte
        fingerprints shuffle, never full rows; with both snapshots
        hash-bucketed on the table key (they are — same table), a
        cluster run co-partitions the outer join for free."""
        from ..operators.joins import snapshot_diff

        old = self.read(v_from)
        new = self.read(v_to)
        if old is None or new is None:
            raise ValueError("change_feed needs two non-empty snapshots")
        cmp_cols = [c for c in new.columns if c != self.key]
        return snapshot_diff(old, new, self.key, cmp_cols)

    def history(self) -> list[dict]:
        """Retained snapshots, oldest first: version, bucket count,
        epoch count — the table-format DESCRIBE HISTORY analogue."""
        return [{"version": st["version"], "n_buckets": len(st["buckets"]),
                 "n_epochs": len(st["epochs"])}
                for st in self._retained_states()]

    def _read_buckets(self, st: dict, buckets: list[int]) -> DataFrame | None:
        """Rows of ``buckets`` in snapshot ``st``: one scan of the
        segments they point at, keeping each row only where ``__v`` is
        its bucket's pointer (a segment also holds rows that later
        merges superseded, and rows of other buckets)."""
        ptr = {int(b): st["buckets"][str(b)] for b in buckets
               if str(b) in st["buckets"]}
        if not ptr:
            return None
        pairs = ", ".join(f"{b}, {v}" for b, v in ptr.items())
        segments = [self._seg_path(v) for v in sorted(set(ptr.values()))]
        return (self.spark.read.schema(StructType.fromJson(st["schema"]))
                .parquet(*segments)
                .where(f"__v = element_at(map({pairs}), __bucket)")
                .drop("__bucket", "__v"))

    # -- commit protocol ------------------------------------------------
    def _commit(self, st: dict, new_buckets: dict[str, int], schema: dict,
                epoch_id: int | None) -> None:
        merged = {**st["buckets"], **new_buckets}
        # buckets whose merged content is empty are dropped entirely
        merged = {b: v for b, v in merged.items() if v >= 0}
        epochs = st["epochs"] + ([epoch_id] if epoch_id is not None else [])
        state = {"version": st["version"] + 1, "buckets": merged,
                 "epochs": epochs, "schema": schema}
        # the versioned manifest (time-travel history) lands first;
        # the atomic pointer swap is still the single commit point
        vpath = os.path.join(self.path,
                             f"_manifest-v{state['version']}.json")
        with open(vpath, "w") as f:
            json.dump(state, f)
        tmp = self._manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._manifest)  # the atomic commit point
        self._gc_history()

    def _retained_states(self) -> list[dict]:
        out = []
        for entry in os.listdir(self.path):
            if entry.startswith("_manifest-v") and entry.endswith(".json"):
                with open(os.path.join(self.path, entry)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda s: s["version"])

    def _gc_history(self) -> None:
        """Drop manifests beyond the retention window, then remove the
        segments no retained snapshot references (best-effort — readers
        of a just-expired snapshot may race, same caveat as any table
        format's VACUUM)."""
        states = self._retained_states()
        for st in states[:-self.retain_versions]:
            p = os.path.join(self.path, f"_manifest-v{st['version']}.json")
            try:
                os.remove(p)
            except OSError:
                pass
        self._remove_dead_segments(states[-self.retain_versions:])

    def _remove_dead_segments(self, states: list[dict]) -> int:
        """Remove every segment no snapshot in ``states`` points at (a
        segment is live while one retained bucket points at it)."""
        live = {self._seg_path(v)
                for st in states for v in st["buckets"].values()}
        removed = 0
        for entry in os.listdir(self.path):
            full = os.path.join(self.path, entry)
            if entry.startswith("seg-v") and full not in live:
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        return removed

    def _write_touched(self, out: DataFrame, touched: list[int],
                       new_v: int) -> tuple[dict[str, int], dict]:
        """Write the merged rows of the touched buckets as segment
        ``new_v`` in ONE plain parquet write, and return the new bucket
        pointers and the segment's schema. Buckets with zero surviving
        rows map to -1 (deleted); the write job itself observes which
        buckets it wrote."""
        seen = Observation()
        seg = (out.withColumn("__bucket", self._bucket_col())
               .withColumn("__v", F.lit(new_v)))
        (seg.sortWithinPartitions("__bucket")
            .observe(seen, F.collect_set("__bucket").alias("b"))
            .write.mode("overwrite").parquet(self._seg_path(new_v)))
        written = set(seen.get["b"])
        return ({str(b): new_v if b in written else -1 for b in touched},
                seg.schema.jsonValue())

    # -- MERGE ----------------------------------------------------------
    def merge(self, source: DataFrame,
              when_matched: str | dict[str, str] = "replace",
              when_not_matched: str = "insert",
              epoch_id: int | None = None) -> None:
        st = self._state()
        if epoch_id is not None and epoch_id in st["epochs"]:
            return
        # the source is read ONCE: cached, and one map-only pass fills
        # the cache while observing the NULL-key count and the DISTINCT
        # touched bucket ids (metadata-scale)
        cached = source.withColumn("__bucket", self._bucket_col()).persist()
        try:
            stats = Observation()
            (cached.observe(
                stats,
                F.count_if(F.col(self.key).isNull()).alias("n_null"),
                F.sort_array(F.collect_set("__bucket")).alias("touched"))
                .write.format("noop").mode("overwrite").save())
            n_null, touched = stats.get["n_null"], stats.get["touched"]
            # NULL merge keys are rejected up front: stable_hash64(NULL)
            # is NULL, so a null key has no bucket and could never match
            # in the full_outer merge — surfacing it beats dropping it.
            if n_null:
                raise ValueError(
                    f"merge source contains NULL '{self.key}' rows; "
                    "filter them out (a NULL key has no bucket and can "
                    "never match a target row)")
            src = cached.drop("__bucket").dropDuplicates([self.key])
            tgt = self._read_buckets(st, touched)
            if tgt is None:
                out = src if when_not_matched == "insert" else \
                    src.limit(0)
            else:
                out = self._merge_frames(tgt, src, when_matched,
                                         when_not_matched)
            new_buckets, schema = self._write_touched(out, touched,
                                                      st["version"] + 1)
            self._commit(st, new_buckets, schema, epoch_id)
        finally:
            cached.unpersist()

    def _merge_frames(self, tgt: DataFrame, src: DataFrame,
                      when_matched: str | dict[str, str],
                      when_not_matched: str) -> DataFrame:
        data_cols = [c for c in tgt.columns if c != self.key]
        tt = tgt.select(self.key, F.lit(1).alias("__t"),
                        *[F.col(c).alias(f"t_{c}") for c in data_cols])
        ss = src.select(self.key, F.lit(1).alias("__s"),
                        *[F.col(c).alias(f"s_{c}") for c in data_cols])
        j = tt.join(ss, self.key, "full_outer")
        is_m = F.col("__t").isNotNull() & F.col("__s").isNotNull()
        only_t = F.col("__s").isNull()
        only_s = F.col("__t").isNull()
        keep = only_t | (is_m & F.lit(when_matched != "delete"))
        if when_not_matched == "insert":
            keep = keep | only_s
        out_cols = []
        for c in data_cols:
            if when_matched == "delete":
                m_val = F.lit(None)          # matched rows are dropped
            elif when_matched == "replace":
                m_val = F.col(f"s_{c}")
            else:                            # update-set dict
                m_val = (F.expr(when_matched[c]) if c in when_matched
                         else F.col(f"t_{c}"))
            v = (F.when(is_m, m_val)
                 .when(only_t, F.col(f"t_{c}"))
                 .otherwise(F.col(f"s_{c}")))
            out_cols.append(v.alias(c))
        return j.where(keep).select(self.key, *out_cols)

    # -- maintenance ----------------------------------------------------
    def compact(self, max_files_per_bucket: int = 1) -> None:
        """Rewrite every bucket whose segment spans more than
        ``max_files_per_bucket`` parquet files into one new segment of
        at most that many files — content unchanged, manifest bumped
        atomically, so a second call is a no-op. The small-files remedy
        a streaming upsert workload needs periodically (SURVEY §7.3),
        and the cure for a snapshot spread over many sparse segments
        (each merge writes one file per write task)."""
        st = self._state()
        n_files = {v: len([f for f in os.listdir(self._seg_path(v))
                           if f.endswith(".parquet")])
                   for v in set(st["buckets"].values())}
        to_compact = [int(b) for b, v in st["buckets"].items()
                      if n_files[v] > max_files_per_bucket]
        if not to_compact:
            return
        # hash-repartition on the bucket id: every bucket's rows land
        # in one task, so each bucket lands in one output file
        df = (self._read_buckets(st, to_compact)
              .repartition(max_files_per_bucket, self._bucket_col()))
        new_buckets, schema = self._write_touched(df, to_compact,
                                                  st["version"] + 1)
        self._commit(st, new_buckets, schema, None)

    def vacuum(self) -> int:
        """Remove orphaned (superseded / crashed-write) segments not
        referenced by ANY retained snapshot. Returns count removed."""
        return self._remove_dead_segments(
            self._retained_states() or [self._state()])

    # -- foreachBatch adapters ------------------------------------------
    def upsert_replace(self, batch: DataFrame,
                       epoch_id: int | None = None) -> None:
        """Drop-in for KeyedParquetStore.upsert_replace (S6/S7)."""
        self.merge(batch, "replace", "insert", epoch_id)

    def upsert_inc(self, batch: DataFrame, sum_cols: list[str],
                   max_cols: list[str],
                   epoch_id: int | None = None) -> None:
        """$inc/$max merge (A2/ST6) through the update-set clause."""
        sets = {c: f"t_{c} + s_{c}" for c in sum_cols}
        sets.update({c: f"greatest(t_{c}, s_{c})" for c in max_cols})
        self.merge(batch, sets, "insert", epoch_id)
