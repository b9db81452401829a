"""The benchmark's workloads.

Each workload owns its inputs under the run's work directory, a set-up step
(generate inputs, warm the JVM / codegen / Python worker pool), a sequence
of *rounds* of operations for the closed loop, and a verification step that
runs after the timed window.

A *round* is one complete cycle of the workload's operation mix. A run
measures a whole number of rounds, fixed by ``--seconds`` and the
workload's nominal round time ``ROUND_S`` (measured on four cores), so two
versions of the program are compared on the same work and the same mix.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import gen

PKG = "serverless_mapreduce_spark."
#: rounds' worth of operations run in set-up. Round times still fall a
#: little after two (the JIT), but each further round adds its full cost to
#: every run's set-up at these input sizes
WARM_ROUNDS = 2


@dataclass
class Op:
    """One operation of the closed loop. ``fn`` returns False when its
    output disagrees with the client's expectation (counted as failed)."""

    kind: str
    module: str
    fn: Callable[[], bool]


@dataclass
class Frame:
    """A collected Spark result in the shape the DuckDB comparator reads
    (``schema``, ``columns``, ``collect()``)."""

    schema: object
    columns: list
    rows: list

    def collect(self) -> list:
        return self.rows


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                continue
    return total


class QueryWorkload:
    """Registered queries run through ``fn(spark, sf_dir)`` (``build``) and a
    ``noop`` write (``execute``). Outputs are checked against each query's
    registered DuckDB oracle, by default on results collected during
    warm-up."""

    name = ""
    #: registered query names of one round
    QUERIES: tuple[str, ...] = ()

    def __init__(self, ctx):
        from serverless_mapreduce_spark import registry

        self.ctx = ctx
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.checked: list[tuple[str, str, Frame]] = []

    def module(self, name: str) -> str:
        return self.queries[name].__wrapped__.__module__.removeprefix(PKG)

    def query_op(self, name: str, sf_dir: str) -> Op:
        ctx, fn, module = self.ctx, self.queries[name], self.module(name)

        def run() -> bool:
            with ctx.tracer.span("build", counted=True, module=module):
                df = fn(ctx.spark, sf_dir)
            with ctx.tracer.span("execute", counted=True, module=module):
                df.write.format("noop").mode("overwrite").save()
            return True

        return Op(name, module, run)

    def warm(self, sf_dirs: list[str], check_dir: str | None) -> None:
        """Run every query on every set-up input with ``collect``, on one
        thread per core: the first pass pays class loading, code generation
        and Python worker start-up, the later ones let the JIT reach steady
        state. The results on ``check_dir``, if given, are kept for
        verification."""

        jobs = [(n, d) for d in sf_dirs for n in self.QUERIES]
        with ThreadPoolExecutor(self.ctx.cpus) as pool:
            done = [f.result() for f in [pool.submit(self.collect, *job) for job in jobs]]
        checked = {}
        for name, sf_dir, frame in done:
            if sf_dir == check_dir:
                checked.setdefault(name, (name, sf_dir, frame))
        self.checked = list(checked.values())

    def collect(self, name: str, sf_dir: str) -> tuple[str, str, Frame]:
        df = self.queries[name](self.ctx.spark, sf_dir)
        return name, sf_dir, Frame(df.schema, df.columns, df.collect())

    def verify(self) -> list[str]:
        return self.compare(self.checked)

    def compare(self, results: list[tuple[str, str, Frame]]) -> list[str]:
        """Mismatches against the oracles, which run on one thread per core
        (DuckDB releases the GIL)."""
        from tests.oracle import assert_matches_oracle

        def one(name: str, sf_dir: str, frame: Frame) -> str | None:
            try:
                assert_matches_oracle(frame, self.oracles[name], sf_dir)
            except AssertionError as exc:
                return f"{name}: {str(exc)[:300]}"
            return None

        with ThreadPoolExecutor(self.ctx.cpus) as pool:
            return [m for m in pool.map(lambda r: one(*r), results) if m]

    def extra(self, records, traced: bool) -> dict[str, float]:
        return {}


class AmplabSql(QueryWorkload):
    """The reference's own benchmark set over one dataset that every round
    reads again: the Amplab queries, URL count and total sort plus TPC-H
    Q1/Q3/Q18 on the Catalyst path, and word count written as map/reduce
    callbacks through the MapReduce facade. The inputs have the row counts of
    the 0.1-scale fixture."""

    name = "amplab_sql"
    QUERIES = (
        "q1_filter_scan",
        "q2_groupby_sum",
        "q2b_substr_groupby_sum",
        "q3_date_filter",
        "q3_top1",
        "sort_by_value",
        "url_count",
        "tpch_q1",
        "tpch_q3",
        "tpch_q18",
        "facade_word_count",
    )
    ROUND_S = 8.0
    #: 1.0 = SF1 row counts (6M lineitem)
    SCALE = 0.1
    DOCS = 5000

    def setup(self) -> None:
        self.sf = os.path.join(self.ctx.work, "sf")
        gen.write_relational(self.sf, self.ctx.seed, self.SCALE)
        gen.write_corpus(self.sf, self.ctx.seed, self.DOCS, self.DOCS // 2)
        self.ctx.mark_generated()
        self.warm([self.sf] * WARM_ROUNDS, None)

    def verify(self) -> list[str]:
        """Every query once more on the dataset after the window: like the
        timed operations, these runs repeat inputs earlier runs have read,
        so a result served from stale state would show."""
        with ThreadPoolExecutor(self.ctx.cpus) as pool:
            again = list(pool.map(self.collect, self.QUERIES, [self.sf] * len(self.QUERIES)))
        return self.compare(again)

    def rounds(self) -> Iterator[list[Op]]:
        rng = random.Random(self.ctx.seed)
        while True:
            names = list(self.QUERIES)
            rng.shuffle(names)
            yield [self.query_op(n, self.sf) for n in names]


class CorpusCuration(QueryWorkload):
    """Curation kernels over a fresh corpus per round, so every session
    memo keyed on the corpus path misses. The kernels run in a fixed
    pipeline order; the seed fixes the corpora."""

    name = "corpus_curation"
    QUERIES = (
        "gopher_quality_gate",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_cluster",
        "simhash_pairs",
        "ann_lsh_topk",
        "tfidf_top_terms",
    )
    ROUND_S = 10.0
    #: the document count of the 0.1-scale fixture
    DOCS = 5000
    #: 2000 vectors give ann_lsh_topk 20 query vectors (every 100th id)
    VECS = 2000
    #: the verification corpus: small enough for the recursive DuckDB
    #: oracle of dedup_cluster (~5 s at 100 documents), with more near
    #: duplicates planted so its pair graph is not trivial
    CHECK_DOCS = 100
    CHECK_NEAR_DUP_RATE = 0.2

    def setup(self) -> None:
        root = os.path.join(self.ctx.work, "corpora")
        check_dir = gen.write_corpus(
            os.path.join(root, "check"), self.ctx.seed, self.CHECK_DOCS, self.VECS,
            near_dup_rate=self.CHECK_NEAR_DUP_RATE,
        )
        # one corpus per round, each in its own directory: the memos are
        # keyed on the path, so a reused path would serve stale results
        self.corpora = [
            gen.write_corpus(
                os.path.join(root, f"c{i}"), self.ctx.seed, self.DOCS, self.VECS, i + 1
            )
            for i in range(self.ctx.rounds)
        ]
        warm_dirs = [check_dir] + [
            gen.write_corpus(
                os.path.join(root, f"warm{i}"), self.ctx.seed, self.DOCS, self.VECS, 1000 + i
            )
            for i in range(1, WARM_ROUNDS)
        ]
        self.ctx.mark_generated()
        self.warm(warm_dirs, check_dir)

    def rounds(self) -> Iterator[list[Op]]:
        for sf in self.corpora:
            yield [self.query_op(n, sf) for n in self.QUERIES]


class TableIngest:
    """A ``SnapshotTable`` of orders-shaped rows under a steady ingest cycle:
    append, upsert of recent keys, stats-pruned range reads and Bloom point
    lookups. Every ``COMPACT_EVERY`` cycles: compaction then version
    expiry. The client keeps a model of the live rows and checks every
    lookup against it, and the final row count and checksums at the end."""

    name = "table_ingest"
    ROUND_S = 2.4
    BASE_ROWS = 20_000
    APPEND_ROWS = 20_000
    MERGE_KEYS = 2_000
    #: merges update keys of the last MERGE_WINDOW appended batches (recent
    #: orders change status) and insert MERGE_INSERT_SHARE new keys
    MERGE_WINDOW = 2
    MERGE_INSERT_SHARE = 0.1
    #: three of each keep a run's median inside the scans' samples
    SCANS = 3
    LOOKUPS = 3
    #: maintenance policy: compact files under SMALL_BYTES into
    #: TARGET_BYTES files every COMPACT_EVERY cycles, then keep KEEP_LATEST
    #: versions
    COMPACT_EVERY = 2
    SMALL_BYTES = 4 << 20
    TARGET_BYTES = 16 << 20
    KEEP_LATEST = 4
    KEY = "o_orderkey"
    N_CUST = 15_000
    #: new keys inserted by merges live far above every appended key
    INSERT_BASE = 1 << 40
    #: throwaway tables, one per set-up thread, each run through every
    #: table call of a round and maintenance
    WARM_TABLES = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.model: dict[int, tuple] = {}
        self.batches: list[tuple[str, str, dict, dict]] = []
        self.ingested_bytes = 0
        self.lookups = 0
        self.lookup_files = 0
        self.scan_ratio: list[float] = []
        self.merge_rewritten: list[int] = []
        self.compact_bytes: list[int] = []
        self.compact_s: list[float] = []
        self.plan_s: list[float] = []
        self.files_written: dict[str, int] = {}

    # -- inputs --------------------------------------------------------------

    def _batch(self, rng, keys, path: str) -> tuple[dict, int]:
        """Write one orders-shaped batch; return its rows by key and its
        Arrow size."""
        import pyarrow.parquet as pq

        tbl = gen.orders_table(rng, keys, self.N_CUST)
        pq.write_table(tbl, path)
        cols = [tbl.column(c).to_pylist() for c in tbl.column_names]
        return {row[0]: row for row in zip(*cols)}, tbl.nbytes

    def setup(self) -> None:
        import numpy as np

        from serverless_mapreduce_spark.sources.snapshots import SnapshotTable

        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 3])
        bdir = os.path.join(ctx.work, "batches")
        os.makedirs(bdir)
        base = os.path.join(bdir, "base.parquet")
        self.base_rows, self.base_bytes = self._batch(rng, np.arange(self.BASE_ROWS), base)
        recent = [np.arange(self.BASE_ROWS)]
        next_key, next_insert = self.BASE_ROWS, self.INSERT_BASE
        n_ins = int(self.MERGE_KEYS * self.MERGE_INSERT_SHARE)
        for i in range(ctx.rounds):
            keys = np.arange(next_key, next_key + self.APPEND_ROWS)
            next_key += self.APPEND_ROWS
            a_path = os.path.join(bdir, f"append{i}.parquet")
            a_rows, a_bytes = self._batch(rng, keys, a_path)
            recent = (recent + [keys])[-self.MERGE_WINDOW :]
            pool = np.concatenate(recent)
            upd = rng.choice(pool, self.MERGE_KEYS - n_ins, replace=False)
            ins = np.arange(next_insert, next_insert + n_ins)
            next_insert += n_ins
            m_path = os.path.join(bdir, f"merge{i}.parquet")
            m_rows, m_bytes = self._batch(rng, np.concatenate([upd, ins]), m_path)
            self.batches.append((a_path, m_path, (a_rows, a_bytes), (m_rows, m_bytes)))
        ctx.mark_generated()

        with ThreadPoolExecutor(self.WARM_TABLES) as pool:
            for f in [pool.submit(self._warm_table, i, base) for i in range(self.WARM_TABLES)]:
                f.result()

        self.table = SnapshotTable(os.path.join(ctx.work, "table"))
        self._commit(self.table, base)
        self.model.update(self.base_rows)
        self.ingested_bytes += self.base_bytes
        self._note_files()

    def _warm_table(self, i: int, base: str) -> None:
        """Every table call of a round, and maintenance, on a throwaway
        table (set-up runs one per thread, so it calls the table directly
        rather than through the single-threaded tracer)."""
        from pyspark.sql import functions as F

        from serverless_mapreduce_spark.sources.snapshots import SnapshotTable

        spark, key = self.ctx.spark, self.KEY
        t = SnapshotTable(os.path.join(self.ctx.work, f"warm_table{i}"))
        t.commit(self._read(base), stats_cols=(key,), bloom_cols=(key,))
        for a_path, m_path, _, _ in self.batches[:2]:
            t.commit(self._read(a_path), stats_cols=(key,), bloom_cols=(key,))
            t.merge_upsert(
                spark, self._read(m_path), (key,), stats_cols=(key,), bloom_cols=(key,)
            )
            t.plan_files(where=(key, 0, 5_000))
            scan = t.read(spark, where=(key, 0, 5_000)).filter(F.col(key).between(0, 5_000))
            scan.write.format("noop").mode("overwrite").save()
            files, _ = t.plan_files_keys(key, [5])
            t._open_files(spark, t.latest_version(), files).filter(F.col(key) == 5).collect()
        t.compact_small_files(
            spark, small_bytes=self.SMALL_BYTES, target_bytes=self.TARGET_BYTES,
            stats_cols=(key,), bloom_cols=(key,),
        )
        t.expire_versions(keep_latest=self.KEEP_LATEST)

    # -- table calls -----------------------------------------------------------

    def _read(self, path: str):
        return self.ctx.spark.read.parquet(path)

    def _commit(self, t, path: str) -> None:
        with self.ctx.tracer.span("commit", counted=True):
            t.commit(self._read(path), stats_cols=(self.KEY,), bloom_cols=(self.KEY,))

    def _merge(self, t, path: str) -> None:
        with self.ctx.tracer.span("merge", counted=True):
            t.merge_upsert(
                self.ctx.spark, self._read(path), (self.KEY,),
                stats_cols=(self.KEY,), bloom_cols=(self.KEY,),
            )

    def _scan(self, t, lo: int, hi: int, traced: bool) -> None:
        from pyspark.sql import functions as F

        with self.ctx.tracer.span("plan", counted=True) as sp:
            files, total = t.plan_files(where=(self.KEY, lo, hi))
        if traced:
            self.plan_s.append(sp.end - sp.start)
            self.scan_ratio.append(len(files) / max(total, 1))
        with self.ctx.tracer.span("scan", counted=True):
            (
                t.read(self.ctx.spark, where=(self.KEY, lo, hi))
                .filter(F.col(self.KEY).between(lo, hi))
                .write.format("noop").mode("overwrite").save()
            )

    def _lookup_rows(self, t, key: int, traced: bool = False) -> list[tuple]:
        from pyspark.sql import functions as F

        with self.ctx.tracer.span("plan", counted=True) as sp:
            files, _ = t.plan_files_keys(self.KEY, [key])
        if traced:
            self.plan_s.append(sp.end - sp.start)
            self.lookups += 1
            self.lookup_files += len(files)
        if not files:
            return []
        with self.ctx.tracer.span("scan", counted=True):
            rows = (
                t._open_files(self.ctx.spark, t.latest_version(), files)
                .filter(F.col(self.KEY) == key)
                .collect()
            )
        return [tuple(r) for r in rows]

    def _live_files(self) -> set[str]:
        return set(self.table.plan_files()[0])

    def _note_files(self) -> None:
        """Record every data file ever written (sizes survive expiry)."""
        for d, _, files in os.walk(self.table.data_dir):
            for f in files:
                p = os.path.join(d, f)
                if p not in self.files_written:
                    try:
                        self.files_written[p] = os.path.getsize(p)
                    except OSError:
                        continue

    # -- the loop --------------------------------------------------------------

    def rounds(self) -> Iterator[list[Op]]:
        rng = random.Random(self.ctx.seed)
        traced = self.ctx.tracer.enabled
        t = self.table

        for cycle, (a_path, m_path, (a_rows, a_bytes), (m_rows, m_bytes)) in enumerate(
            self.batches
        ):

            def append(a_path=a_path, a_rows=a_rows, a_bytes=a_bytes) -> bool:
                self._commit(t, a_path)
                self.model.update(a_rows)
                self.ingested_bytes += a_bytes
                return True

            def merge(m_path=m_path, m_rows=m_rows, m_bytes=m_bytes) -> bool:
                before = self._live_files() if traced else set()
                self._merge(t, m_path)
                if traced:
                    self.merge_rewritten.append(len(before - self._live_files()))
                self.model.update(m_rows)
                self.ingested_bytes += m_bytes
                return True

            def scan() -> bool:
                hi_key = self.BASE_ROWS + cycle * self.APPEND_ROWS
                lo = rng.randrange(0, max(1, hi_key - 5_000))
                self._scan(t, lo, lo + 5_000, traced)
                return True

            def lookup() -> bool:
                key = rng.choice(keys_now())
                return self._lookup_rows(t, key, traced) == [self.model[key]]

            key_cache: list = []

            def keys_now() -> list:
                if not key_cache:
                    key_cache.extend(self.model)
                return key_cache

            ops = [Op("append", "sources.snapshots", append), Op("merge", "sources.snapshots", merge)]
            ops += [Op("scan", "sources.snapshots", scan) for _ in range(self.SCANS)]
            ops += [Op("lookup", "sources.snapshots", lookup) for _ in range(self.LOOKUPS)]
            if (cycle + 1) % self.COMPACT_EVERY == 0:
                ops.append(Op("maintain", "sources.snapshots", self._maintain))
            yield ops
            if traced:
                self._note_files()

    def _maintain(self) -> bool:
        """Compaction, then version expiry."""
        traced = self.ctx.tracer.enabled
        before = self._live_files() if traced else set()
        with self.ctx.tracer.span("compact", counted=True) as sp:
            self.table.compact_small_files(
                self.ctx.spark, small_bytes=self.SMALL_BYTES, target_bytes=self.TARGET_BYTES,
                stats_cols=(self.KEY,), bloom_cols=(self.KEY,),
            )
        if traced:
            self.compact_s.append(sp.end - sp.start)
            new = self._live_files() - before
            self.compact_bytes.append(sum(os.path.getsize(p) for p in new))
            self._note_files()  # count the files expiry may delete
        with self.ctx.tracer.span("expire", counted=True):
            self.table.expire_versions(keep_latest=self.KEEP_LATEST)
        return True

    # -- after the window --------------------------------------------------------

    def verify(self) -> list[str]:
        from pyspark.sql import functions as F

        got = (
            self.table.read(self.ctx.spark)
            .agg(
                F.count("*").alias("n"),
                F.sum(self.KEY).alias("keys"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
            )
            .collect()[0]
        )
        want = (
            len(self.model),
            sum(self.model),
            sum(round(r[3] * 100) for r in self.model.values()),
        )
        if tuple(got) != want:
            return [f"table checksum (rows, key sum, cents) {tuple(got)} != model {want}"]
        return []

    def extra(self, records, traced: bool) -> dict[str, float]:
        import statistics

        import pyarrow as pa

        def p50(kind: str) -> float:
            lat = [r.latency for r in records if r.kind == kind]
            return statistics.median(lat) if lat else 0.0

        rows = list(self.model.values())
        live = pa.table(
            {f"c{i}": pa.array([r[i] for r in rows]) for i in range(len(rows[0]))}
        )
        out = {
            "sources.snapshots.append_p50_s": p50("append"),
            "sources.snapshots.merge_p50_s": p50("merge"),
            "sources.snapshots.scan_p50_s": p50("scan"),
            "sources.snapshots.lookup_p50_s": p50("lookup"),
            "sources.snapshots.space_amp": _du(self.table.base) / live.nbytes,
        }
        if not traced:
            return out

        def mean(xs) -> float:
            return sum(xs) / len(xs) if xs else 0.0

        self._note_files()
        out.update(
            {
                "sources.snapshots.plan_s": mean(self.plan_s),
                "sources.snapshots.files_live": float(len(self._live_files())),
                "sources.snapshots.lookup_files_planned": self.lookup_files / max(self.lookups, 1),
                "sources.snapshots.lookup_file_precision": self.lookups / max(self.lookup_files, 1),
                "sources.snapshots.scan_files_planned_ratio": mean(self.scan_ratio),
                "sources.snapshots.manifest_bytes": float(_du(self.table.manifest_dir)),
                "sources.snapshots.write_amp": sum(self.files_written.values())
                / self.ingested_bytes,
                "sources.snapshots.merge_files_rewritten": mean(self.merge_rewritten),
                "sources.snapshots.compact_s": mean(self.compact_s),
                "sources.snapshots.compact_bytes_rewritten": mean(self.compact_bytes),
            }
        )
        return out


WORKLOADS = {w.name: w for w in (AmplabSql, CorpusCuration, TableIngest)}
