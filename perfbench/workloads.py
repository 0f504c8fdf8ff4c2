"""The two closed-loop workloads (one client, no think time).

Each workload has the same shape: ``setup`` builds its starting state in a
fresh directory (run several times; the last state is kept), ``warm_up``
runs untimed operations until the JVM and code generation are warm, and
``measure`` runs timed operations for the requested seconds, checking
every result against an in-memory model or an oracle.  Operations are
opened through :class:`Recorder`, which takes their wall and CPU time
and, in a traced run, gives each one its own Spark job group and op span.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import datagen

SETUP_REPEATS = 3


def _ticks(stat_path: str) -> tuple[int, list[str]]:
    """(parent pid, fields after the command name) of one /proc stat file."""
    with open(stat_path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[1]), fields


class CpuClock:
    """CPU seconds used by this process and every process under it (the
    JVM, Spark's Python daemon and workers; reaped children included),
    less the JVM's JIT compiler threads.

    Unlike wall time, CPU time leaves out the time a shared host gives
    other guests.  The compiler threads are left out because they work
    beside the operations rather than in them, and how much they still
    compile in a timed window varies run to run (up to ~40% of the JVM's
    CPU time in 15 s of the query suite); the JVM is started with a fixed
    set of them, found here once."""

    def __init__(self, jvm_pid: int):
        self.tick = os.sysconf("SC_CLK_TCK")
        task = f"/proc/{jvm_pid}/task"
        self.jit = []
        for tid in os.listdir(task):
            with open(f"{task}/{tid}/comm") as fh:
                if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    self.jit.append(f"{task}/{tid}/stat")

    def __call__(self) -> float:
        children: dict[int, list[int]] = {}
        used: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                ppid, fields = _ticks(f"/proc/{entry}/stat")
            except OSError:  # the process ended while listing
                continue
            children.setdefault(ppid, []).append(int(entry))
            used[int(entry)] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += used.get(pid, 0)
            todo.extend(children.get(pid, ()))
        for path in self.jit:
            total -= sum(int(f) for f in _ticks(path)[1][11:13])
        return total / self.tick


@dataclass
class Op:
    op_id: int
    kind: str
    traced: bool
    ms: float
    cpu_ms: float = 0.0


@dataclass
class Outcome:
    """What a workload hands back to the reporter."""

    ops: list[Op] = field(default_factory=list)
    measured_s: float = 0.0
    setup_s: list[float] = field(default_factory=list)  # CPU seconds of each timed set-up
    warmup_ops: int = 0
    failures: list[str] = field(default_factory=list)
    facts: dict = field(default_factory=dict)  # named, unit-tagged extras
    # geo: wall and CPU time of each write, from commit start until the
    # mirror read checked it
    visible_ms: list[float] = field(default_factory=list)
    visible_cpu_ms: list[float] = field(default_factory=list)


class Recorder:
    """Times operations; in a traced run, also tags them for the tracer
    and the Spark status tracker."""

    IDLE_GROUP = "perfbench-idle"

    def __init__(self, spark, tracer, trace: bool, cpu: CpuClock):
        self.spark = spark
        self.tracer = tracer
        self.trace = trace
        self.cpu = cpu
        self.ops: list[Op] = []
        self.default_traced = True  # a traced run switches this per op
        self._next = 0

    @contextmanager
    def op(self, kind: str):
        op_id = self._next
        self._next += 1
        sc = self.spark.sparkContext
        on = self.trace and self.default_traced
        if self.trace:
            sc.setJobGroup(f"perfbench-op-{op_id}", kind)
        self.tracer.enabled = on
        rec = Op(op_id, kind, on, 0.0)
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op_id, kind):
                yield rec
        finally:
            rec.ms = (time.perf_counter() - t0) * 1000.0
            rec.cpu_ms = (self.cpu() - c0) * 1000.0
            self.tracer.enabled = False
            if self.trace:
                sc.setJobGroup(self.IDLE_GROUP, "idle")
            self.ops.append(rec)

    def discard(self) -> None:
        """Forget the ops recorded so far (set-up and warm-up)."""
        self.ops.clear()


@dataclass(frozen=True)
class Budget:
    """Length of the timed window: ``seconds`` of wall time, or exactly
    ``steps`` loop steps (a fixed step count makes every count repeat
    exactly between runs with the same seed)."""

    seconds: float
    steps: int | None = None

    def more(self, done: int, t0: float) -> bool:
        if self.steps is not None:
            return done < self.steps
        return time.perf_counter() - t0 < self.seconds


def _attempt(step, out: Outcome) -> None:
    """Run one loop step; a failed or wrong result is counted, not fatal."""
    try:
        step()
    except Exception as exc:  # noqa: BLE001 — counted in the result's `failed`
        out.failures.append(f"{type(exc).__name__}: {str(exc)[:300]}")


def _fresh(root: str, name: str) -> str:
    path = os.path.join(root, name)
    os.makedirs(path)
    return path


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


# ---- shared geo-distributed fixture ----------------------------------------


@dataclass
class Geo:
    """Two regions (``onprem`` writer, ``cloud`` mirror) over one table."""

    spark: object
    root: str
    table: str
    coord: object
    router: object
    tokens: object
    catalog: object  # HyCatalog over the onprem warehouse

    @property
    def src(self):
        return self.coord.catalogs["onprem"][self.table]

    @property
    def mirror(self):
        return self.coord.catalogs["cloud"][self.table]

    def mirrored_source(self):
        """The source snapshot the mirror's verified head carries (the
        promoted head points at its staged shadow commit, which names
        the source snapshot)."""
        head = self.mirror.current_snapshot()
        if head is None or "published_from" not in head.summary:
            return None
        staged = self.mirror.snapshot_by_id(head.summary["published_from"])
        return self.src.snapshot_by_id(staged.summary["replicated_from"])

    def save_token(self) -> None:
        """Advance the table's watermark to the mirror's verified head."""
        from iceberg_hybrid_spark.control.tokens import ConsistencyToken

        src = self.mirrored_source()
        self.tokens.save_token(
            ConsistencyToken(self.table, src.timestamp_ms, src.sequence_number)
        )

    def route(self, commit_ts_ms: int):
        """Token-routed read: the mirror iff its watermark covers the
        commit the reader needs, then the router's placement lookup."""
        from iceberg_hybrid_spark.control.router import ReadRouter

        token = self.tokens.load_token(self.table)
        target = ReadRouter.route_with_token(
            commit_ts_ms, token.high_watermark_ts_ms if token else None
        )
        loc = self.router.route_read(self.table, preferred_region=target.lower())
        return loc.region, self.coord.catalogs[loc.region][self.table]


def make_geo(spark, root: str, namespace: str, name: str) -> Geo:
    from iceberg_hybrid_spark.control.gate import CommitGate
    from iceberg_hybrid_spark.control.registry import Region, Registry, StorageLocation
    from iceberg_hybrid_spark.control.router import ReadRouter
    from iceberg_hybrid_spark.control.sync import MultiRegionCoordinator, SyncEventStore
    from iceberg_hybrid_spark.control.tokens import TokenStore
    from iceberg_hybrid_spark.lake.catalog import HyCatalog
    from iceberg_hybrid_spark.lake.table import HyTable

    table = f"{namespace}.{name}"
    registry = Registry(spark)
    for region in ("onprem", "cloud"):
        registry.register_region(
            Region(region, region),
            StorageLocation(region, f"https://{region}.invalid", os.path.join(root, region), "warehouse"),
        )
    onprem_wh = os.path.join(root, "onprem", "warehouse")
    src_root = os.path.join(onprem_wh, namespace, name)
    registry.register_table_location(table, "onprem", src_root)
    # the mirror sits where MetadataSync registers it: <base>/tables/<ns>/<name>
    mirror_root = os.path.join(root, "cloud", "warehouse", "tables", namespace, name)
    catalogs = {
        "onprem": {table: HyTable(spark, src_root)},
        "cloud": {table: HyTable(spark, mirror_root)},
    }
    coord = MultiRegionCoordinator(
        spark, registry, CommitGate(spark), SyncEventStore(spark), catalogs
    )
    return Geo(spark, root, table, coord, ReadRouter(registry), TokenStore(spark),
               HyCatalog(spark, onprem_wh))


# ---- geo_write_sync ---------------------------------------------------------


class GeoWriteSync:
    """Writer commits micro-batches at ``onprem`` through the coordinator;
    each commit is drained to the ``cloud`` mirror, then read back through
    the token router and checked; maintenance runs every few commits."""

    name = "geo_write_sync"
    BATCH_ROWS = 2000
    INITIAL_ROWS = 20_000
    MAINTENANCE_EVERY = 5
    WARMUP_ROUNDS = 6

    def __init__(self, spark, rec: Recorder, work: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.rec = rec
        self.work = work
        self.seed = seed
        self.batch_rows = max(int(self.BATCH_ROWS * scale), 10)
        self.initial_rows = max(int(self.INITIAL_ROWS * scale), 10)
        self.geo: Geo | None = None
        self.rows = 0
        self.checksum = 0
        self.rounds = 0
        self.visible_ms: list[float] = []
        self.visible_cpu_ms: list[float] = []

    def _batch(self, rows: int):
        pdf = datagen.event_batch(self.rng, self.rows, rows)
        return pdf, self.spark.createDataFrame(pdf, datagen.EVENT_BATCH_DDL)

    def setup(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.geo = make_geo(self.spark, _fresh(self.work, f"geo-{time.monotonic_ns()}"), "geo", "events")
        self.rows = self.checksum = self.rounds = 0
        self.round(self.initial_rows, maintenance=False)

    def round(self, rows: int | None = None, maintenance: bool = True) -> None:
        """One write → sync → routed read-your-write check (→ maintenance)."""
        geo = self.geo
        pdf, df = self._batch(rows or self.batch_rows)
        c0 = self.rec.cpu()
        t0 = time.perf_counter()
        with self.rec.op("commit"):
            job, snap = geo.coord.coordinate_write(geo.table, df, "onprem")
        if snap is None:
            raise RuntimeError(f"commit refused: {job.status}")
        self.rows += len(pdf)
        self.checksum += datagen.event_checksum(pdf)
        with self.rec.op("sync"):
            progress = geo.coord.process_pending_events("cloud")
        carried = geo.mirrored_source()
        if progress.failed or carried is None or carried.snapshot_id != snap.snapshot_id:
            raise RuntimeError(f"mirror did not reach seq {snap.sequence_number}")
        geo.save_token()
        with self.rec.op("check"):
            region, table = geo.route(snap.timestamp_ms)
            df = table.read().selectExpr("count(*) AS n", f"{datagen.event_checksum_sql} AS c")
            with self.rec.tracer.span("lake.table.read_exec", "spark.exec"):
                got = df.collect()[0]
        if region != "cloud" or (got.n, got.c) != (self.rows, self.checksum):
            raise RuntimeError(
                f"read-your-write at {region}: {(got.n, got.c)} != {(self.rows, self.checksum)}"
            )
        self.visible_ms.append((time.perf_counter() - t0) * 1000.0)
        self.visible_cpu_ms.append((self.rec.cpu() - c0) * 1000.0)
        self.rounds += 1
        if maintenance and self.rounds % self.MAINTENANCE_EVERY == 0:
            self.rec.default_traced = True  # rare: traced whenever the run traces
            with self.rec.op("maintenance"):
                reports = geo.catalog.run_maintenance(retain_last=3, compact_min_files=8)
            bad = [r for r in reports if "error" in r or not r.get("audit_ok")]
            if bad:
                raise RuntimeError(f"maintenance failed: {bad}")

    def warm_up(self) -> int:
        for _ in range(self.WARMUP_ROUNDS):
            self.round()
        return self.WARMUP_ROUNDS

    def measure(self, budget: Budget, out: Outcome, traced_every: int) -> None:
        self.visible_ms, self.visible_cpu_ms = out.visible_ms, out.visible_cpu_ms
        t0 = time.perf_counter()
        n = 0
        while budget.more(n, t0):
            self.rec.default_traced = n % traced_every == 0
            _attempt(self.round, out)
            n += 1
        out.measured_s = time.perf_counter() - t0
        src_head = self.geo.src.current_snapshot()
        live = sum(f.size_bytes for f in src_head.manifest if f.content == "data")
        stored = _dir_bytes(self.geo.src.root) + _dir_bytes(self.geo.mirror.root)
        out.facts["storage_bytes_per_live_byte"] = (stored / (2 * live), "ratio")
        out.facts["rows_in_head"] = (self.rows, "rows")


# ---- analytics_suite --------------------------------------------------------

SUITE = (
    "q1_pricing_summary",
    "q5_nation_revenue",
    "latest_order_per_customer",
    "user_sessions",
    "events_hourly_window",
    "dedup_exact_documents",
    "lease_gc_floor",
)


class AnalyticsSuite:
    """Passes over a fixed list of registered queries, one or two per
    family, on a seeded star schema; every result is compared with the
    query's DuckDB oracle after the timed window."""

    name = "analytics_suite"
    LINEITEM_ROWS = 60_000
    WARMUP_PASSES = 2

    def __init__(self, spark, rec: Recorder, work: str, seed: int, scale: float = 1.0):
        from iceberg_hybrid_spark.queries import all_specs

        self.spark = spark
        self.rec = rec
        self.work = work
        self.seed = seed
        self.sizes = datagen.StarSizes(lineitem_rows=max(int(self.LINEITEM_ROWS * scale), 600))
        self.specs = all_specs()
        self.results: list[tuple[str, list, list, list]] = []

    def setup(self) -> None:
        from iceberg_hybrid_spark.sources.tables import TABLE_NAMES, load_table

        self.data_dir = _fresh(self.work, f"star-{time.monotonic_ns()}")
        self.row_counts = datagen.write_star_schema(self.data_dir, self.seed, self.sizes)
        # register every table with the session: footer read + schema resolution
        for name in TABLE_NAMES:
            load_table(self.spark, self.data_dir, name)

    def one(self, name: str, keep: bool) -> None:
        spec = self.specs[name]
        with self.rec.op(f"query:{name}"):
            with self.rec.tracer.span(f"queries.{name}.build", "queries"):
                df = spec.fn(self.spark, self.data_dir)
            with self.rec.tracer.span(f"queries.{name}.exec", "spark.exec"):
                rows = df.collect()
        if keep:
            self.results.append((name, rows, df.columns, df.dtypes))

    def warm_up(self) -> int:
        # the second pass still runs ~20% faster than the first
        for _ in range(self.WARMUP_PASSES):
            for name in SUITE:
                self.one(name, keep=False)
        return self.WARMUP_PASSES * len(SUITE)

    def measure(self, budget: Budget, out: Outcome, traced_every: int) -> None:
        t0 = time.perf_counter()
        k = len(SUITE)
        n = 0
        # the window is checked before every query, not every pass, so it
        # does not overrun by most of a pass; it holds at least one pass
        # (every query measured), and a traced run alternates whole passes
        # with and without tracing, so it needs each query measured both ways
        while budget.more(n // k, t0) or n < traced_every * k:
            self.rec.default_traced = (n // k) % traced_every == 0
            self.one(SUITE[n % k], keep=True)
            n += 1
        out.measured_s = time.perf_counter() - t0
        out.facts["passes"] = (n / k, "count")
        out.facts["input_rows"] = (sum(self.row_counts.values()), "rows")
        out.facts["lineitem_rows"] = (self.row_counts["lineitem"], "rows")

    def check(self) -> list[str]:
        """Compare every kept result with the DuckDB oracle, reusing the
        repository's oracle comparison."""
        import duckdb

        from iceberg_hybrid_spark.sources.tables import TABLE_NAMES

        compare = import_oracle_compare()
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            oracle: dict[str, tuple] = {}
            problems = []
            for name, rows, cols, dtypes in self.results:
                if name not in oracle:
                    rel = con.sql(self.specs[name].oracle)
                    oracle[name] = (rel.fetchall(), list(rel.columns), [str(t) for t in rel.types])
                duck_rows, duck_cols, duck_types = oracle[name]
                bad = compare(name, _Collected(rows, cols, dtypes), duck_rows, duck_cols, duck_types)
                if bad:
                    problems.append(f"{name}: {bad[0]}")
            return problems
        finally:
            con.close()


class _Collected:
    """Already-collected rows in the shape the oracle comparison reads, so
    checking never re-executes a query."""

    def __init__(self, rows, columns, dtypes):
        self._rows, self.columns, self.dtypes = rows, columns, dtypes

    def collect(self):
        return self._rows


def import_oracle_compare():
    """``compare`` from the repository's oracle gate script, imported
    without letting the script's own path setup leak into ``sys.path``."""
    import importlib
    import sys

    saved = list(sys.path)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        sys.path.insert(0, os.path.join(root, "tools"))
        return importlib.import_module("check_oracle").compare
    finally:
        sys.path[:] = saved


WORKLOADS = {w.name: w for w in (GeoWriteSync, AnalyticsSuite)}
