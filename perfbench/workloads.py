"""The two workloads: their op lists, how one op runs, and the checks
of their outputs.

Every workload drives the library through its public calls only:
``QuerySpec.build`` from the ``plans`` registry, ``sources.writers
.write_noop``, ``lake.versioned.VersionedTable`` and the
``streaming.demo`` entries (reached through their catalog builders).
"""

from __future__ import annotations

import math
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
from data_pipeline_with_spark_spark.plans.registry import all_queries
from data_pipeline_with_spark_spark.sources.writers import write_noop

import fixtures
from spans import BatchListener, Tracer
from stats import pass_order


RELATIONAL_OPS = {
    "tpch_q1_pricing_summary": ("lineitem",),
    "tpch_q3_top_revenue_orders": ("customer", "orders", "lineitem"),
    "tpch_q5_local_supplier_volume": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "tpch_q18_large_volume_customer": ("customer", "orders", "lineitem"),
    "w1_topk_per_group": ("lineitem",),
    "j2_yoy_self_join": ("orders",),
    "j6_asof_join": ("events",),
}
LLM_OPS = {
    "curation_pipeline": ("documents",),
    "dedup_minhash_lsh_pairs": ("documents",),
    "sim_cosine_topk_bruteforce": ("embeddings",),
    "multimodal_phash_near_dups": ("embeddings",),
}
# catalog op -> the streaming.demo entry its builder runs
STREAM_OPS = {
    "stream_dedup_exact": ("run_stream_dedup", ("documents",)),
}
# the module that owns each catalog op; lake calls belong to ``lake``
MODULE_OF = {
    **dict.fromkeys(RELATIONAL_OPS, "operators"),
    **dict.fromkeys(LLM_OPS, "llm"),
    **dict.fromkeys(STREAM_OPS, "streaming"),
}
LAKE_WRITES = ("create", "append", "update", "merge_upsert", "delete", "optimize", "vacuum")
LAKE_READS = ("read", "read_version", "read_where", "changes")


@dataclass
class OpResult:
    op: str
    seconds: float
    ok: bool


@dataclass
class Context:
    spark: object
    tracer: Tracer
    work: Path
    seed: int
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failures.append(what)


# ---------------------------------------------------------------- checks

def _norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def _same(a, b) -> bool:
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        # The catalog rounds order-dependent float aggregates to 2
        # decimals on both engines; a sum that lands on a half-cent can
        # round either way, so a one-cent gap between 2-decimal values
        # is a rounding tie, not a wrong answer.
        two_dp = round(a, 2) == a and round(b, 2) == b
        return two_dp and abs(a - b) <= 0.01 * (1 + 1e-9) + 1e-12 * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_same(x, y) for x, y in zip(a, b))
    return False


def compare_rows(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """The oracle comparison of ``tools/check_oracle.py``: same column
    names, same row count, same values in any row order. None if equal."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rows {len(s_rows)} != {len(d_rows)}"
    sn, dn = _norm_rows(list(s_cols), s_rows), _norm_rows(list(d_cols), d_rows)
    for i, (a, b) in enumerate(zip(sn, dn)):
        if not _same(a, b):
            return f"row {i}: {a} != {b}"
    return None


def duck_views(sf_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in fixtures.TABLES:
        if (sf_dir / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir / t}.parquet'")
    return con


# ------------------------------------------------------ catalog workloads

class CatalogWorkload:
    """Ops are catalog queries: ``QuerySpec.build`` then ``write_noop``,
    in a seeded order per pass. Before the timed passes every op runs
    once on the same inputs with its rows collected and checked, which
    also warms exactly the plans the passes run."""

    ops: dict[str, tuple[str, ...]] = {}
    sf = 0.01
    scale: dict[str, float] = {}  # table -> scale factor, where not ``sf``
    # one untimed pass after the check: the first pass of build + write_noop
    # calls ran 10-30% slower, and used 10-20% more CPU, than the next
    settle = True
    min_passes = 2  # timed passes every run makes; ``pass_cpu_s`` is their median

    def __init__(self) -> None:
        self.specs = {n: all_queries()[n] for n in self.ops}

    def module_of(self, op: str) -> str:
        return MODULE_OF[op]

    def _sf(self, table: str) -> float:
        return self.scale.get(table, self.sf)

    def input_rows(self) -> int:
        return sum(fixtures.row_counts(self._sf(t))[t] for ts in self.ops.values() for t in ts)

    def prepare(self, ctx: Context) -> None:
        for sf in {self.sf, *self.scale.values()}:
            fixtures.write_fixture(ctx.work / "data", sf, ctx.seed,
                                   [t for t in fixtures.TABLES if self._sf(t) == sf])

    def warm_and_check(self, ctx: Context) -> float:
        """Run every op once, collect its rows and compare them with the
        op's DuckDB oracle over the same parquet files. Returns the
        Spark-side seconds (the warm-up); the DuckDB side is not counted."""
        check_dir = ctx.work / "data"
        con = duck_views(check_dir)
        spark_s = 0.0
        for op, spec in self.specs.items():
            ctx.attempted += 1
            self.before_op(op)
            t0 = time.perf_counter()
            try:
                df = spec.build(ctx.spark, str(check_dir))
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # a failing op is counted, not fatal
                ctx.fail(f"{op}: {type(e).__name__}: {e}")
                continue
            finally:
                spark_s += time.perf_counter() - t0
                print(f"warm-up {op}: {time.perf_counter() - t0:.2f}s")
            self.after_op(ctx, op)
            if spec.oracle is None:
                continue
            res = con.execute(spec.oracle)
            diff = compare_rows(cols, rows, [d[0] for d in res.description], res.fetchall())
            if diff:
                ctx.fail(f"{op}: oracle mismatch: {diff}")
        con.close()
        if self.settle:
            t0 = time.perf_counter()
            self.run_pass(ctx, -1)
            spark_s += time.perf_counter() - t0
        return spark_s

    def before_op(self, op: str) -> None:
        pass

    def after_op(self, ctx: Context, op: str) -> None:
        pass

    def run_op(self, ctx: Context, op: str) -> OpResult:
        ctx.attempted += 1
        self.before_op(op)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("plans.build", op):
                df = self.specs[op].build(ctx.spark, str(ctx.work / "data"))
            with ctx.tracer.span("sources.noop", op):
                write_noop(df)
        except Exception as e:
            ctx.fail(f"{op}: {type(e).__name__}: {e}")
            return OpResult(op, time.perf_counter() - t0, False)
        seconds = time.perf_counter() - t0
        self.after_op(ctx, op)
        return OpResult(op, seconds, True)

    def run_pass(self, ctx: Context, pass_index: int) -> list[OpResult]:
        return [self.run_op(ctx, op) for op in pass_order(list(self.ops), ctx.seed, pass_index)]

    def finish(self, ctx: Context) -> None:
        pass


class Serving(CatalogWorkload):
    """The pipeline's serve step: TPC-H joins and aggregates, top-k,
    windows and as-of joins (``operators``) beside LLM curation, LSH
    dedup and similarity (``llm``). The llm tables stay at sf0.01: the
    LSH and brute-force candidate pairs grow with the square of them."""

    ops = {**RELATIONAL_OPS, **LLM_OPS}
    sf = 0.02
    scale = {"documents": 0.01, "embeddings": 0.01}


class StreamIngest(CatalogWorkload):
    """The streaming entries run inside their catalog builders; a
    listener on ``streaming.demo.streaming_session(spark)`` (the session
    they run on) records every micro-batch."""

    ops = {op: tables for op, (_, tables) in STREAM_OPS.items()}
    settle = False  # the lake pass before it in ``LakeStream`` warms the session

    def __init__(self) -> None:
        super().__init__()
        self.listener = BatchListener()
        self.shape: dict[str, set[tuple[int, int]]] = {}

    def attach(self, spark) -> None:
        from data_pipeline_with_spark_spark.streaming.demo import streaming_session

        streaming_session(spark).streams.addListener(self.listener)

    def before_op(self, op: str) -> None:
        self.listener.drain()
        self.listener.op = op
        self.mark = len(self.listener.batches)

    def after_op(self, ctx: Context, op: str) -> None:
        self.listener.drain()
        mine = self.listener.batches[self.mark:]
        self.shape.setdefault(op, set()).add((len(mine), sum(b[1] for b in mine)))
        # the builders stage their streams under TMPDIR and never delete them
        shutil.rmtree(ctx.work / "tmp", ignore_errors=True)
        (ctx.work / "tmp").mkdir()

    def finish(self, ctx: Context) -> None:
        for op, shapes in sorted(self.shape.items()):
            ctx.attempted += 1
            if len(shapes) != 1:
                ctx.fail(f"{op}: (batches, rows) differ across passes: {sorted(shapes)}")


# ---------------------------------------------------------- lake workload

@dataclass
class LakeStep:
    kind: str  # one of LAKE_WRITES or LAKE_READS
    arg: object = None
    sql: str = ""  # the DuckDB replay of a write; "" for reads


_UPDATES = (
    ("l_quantity", "l_quantity + 1"),
    ("l_returnflag", "'X'"),
    ("l_tax", "l_tax * 2"),
    ("l_linestatus", "'U'"),
)


def lake_plan(seed: int, rows: int) -> list[LakeStep]:
    """The DML pass of ``lake_stream``, fixed by the seed: 4 appends,
    3 updates, 1 merge_upsert and 1 delete in a seeded order, each
    followed by one read (``read()``, ``read(0)``, ``read_where``,
    ``changes`` in a seeded rotation), then optimize and vacuum. ``rows``
    is the size of the created table; the table key is ``l_rowid``."""
    rng = random.Random(f"lake:{seed}")
    writes = ["append"] * 4 + ["update"] * 3 + ["merge_upsert", "delete"]
    rng.shuffle(writes)
    reads = list(LAKE_READS)
    rng.shuffle(reads)
    steps = [LakeStep("create", None, "CREATE TABLE t AS SELECT * FROM 'base.parquet'")]
    n_append = 0
    for i, kind in enumerate(writes):
        if kind == "append":
            steps.append(LakeStep("append", n_append, f"INSERT INTO t SELECT * FROM 'append_{n_append}.parquet'"))
            n_append += 1
        elif kind == "update":
            col, expr = rng.choice(_UPDATES)
            year = rng.randrange(1995, 2001)
            where = (f"l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00' AND "
                     f"l_shipdate < TIMESTAMP '{year + 1}-01-01 00:00:00' AND l_linenumber <= {rng.randrange(2, 6)}")
            steps.append(LakeStep("update", (where, {col: expr}), f"UPDATE t SET {col} = {expr} WHERE {where}"))
        elif kind == "merge_upsert":
            steps.append(LakeStep("merge_upsert", None,
                                  "DELETE FROM t WHERE l_rowid IN (SELECT l_rowid FROM 'merge.parquet');"
                                  "INSERT INTO t SELECT * FROM 'merge.parquet'"))
        else:
            where = f"l_quantity >= {rng.randrange(44, 49)} AND l_linenumber = {rng.randrange(1, 8)}"
            steps.append(LakeStep("delete", where, f"DELETE FROM t WHERE {where}"))
        read = reads[i % len(reads)]
        lo = rng.randrange(0, rows - rows // 10)
        arg = [("l_rowid", ">=", lo), ("l_rowid", "<", lo + rows // 20)] if read == "read_where" else None
        steps.append(LakeStep(read, arg))
    steps += [LakeStep("optimize"), LakeStep("vacuum")]
    return steps


def write_lake_inputs(out: Path, sf: float, seed: int) -> int:
    """Lake inputs cut from one generated lineitem with a ``l_rowid`` key:
    the first half creates the table, the next 40% arrive as 4 appends,
    and the merge source rewrites every 50th row of the first half and
    inserts 2% new rows. Returns the created table's row count."""
    out.mkdir(parents=True, exist_ok=True)
    li = fixtures.generate_table("lineitem", sf, seed)
    n = li.num_rows
    li = li.append_column("l_rowid", pa.array(np.arange(n), pa.int64()))
    half = n // 2
    pq.write_table(li.slice(0, half), out / "base.parquet")
    step = (n * 4 // 10) // 4
    for i in range(4):
        pq.write_table(li.slice(half + i * step, step), out / f"append_{i}.parquet")
    old = li.take(pa.array(np.arange(0, half, 50))).set_column(
        li.schema.get_field_index("l_returnflag"), "l_returnflag",
        pa.array(["M"] * len(range(0, half, 50))))
    new = li.slice(half + 4 * step, n // 50)
    pq.write_table(pa.concat_tables([old, new]), out / "merge.parquet")
    return half


def _tree_bytes(path: Path, pattern: str = "**/*") -> tuple[int, int]:
    files = [p for p in path.glob(pattern) if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


class LakeDml:
    """One pass creates a ``VersionedTable`` and runs the seed's DML plan
    on it. Reads are consumed with ``write_noop``."""

    sf = 0.01

    def __init__(self) -> None:
        self.last_table: VersionedTable | None = None
        self.pass_stats: list[dict[str, float]] = []

    def input_rows(self) -> int:
        n = fixtures.row_counts(self.sf)["lineitem"]
        return n // 2 + 4 * ((n * 4 // 10) // 4) + len(range(0, n // 2, 50)) + n // 50

    def prepare(self, ctx: Context) -> None:
        self.rows = write_lake_inputs(ctx.work / "lake", self.sf, ctx.seed)
        self.plan = lake_plan(ctx.seed, self.rows)

    def warm_and_check(self, ctx: Context) -> float:
        t0 = time.perf_counter()
        self._run_pass(ctx, ctx.work / "lake", self.plan, "warm")
        return time.perf_counter() - t0

    def run_pass(self, ctx: Context, pass_index: int) -> list[OpResult]:
        """The lake pass runs in plan order: each op depends on the one before."""
        return self._run_pass(ctx, ctx.work / "lake", self.plan, f"p{pass_index}")

    def _run_pass(self, ctx: Context, src: Path, plan: list[LakeStep], tag: str) -> list[OpResult]:
        spark = ctx.spark
        root = ctx.work / "tables" / tag
        shutil.rmtree(root, ignore_errors=True)
        table = VersionedTable(spark, str(root))
        results = []
        for i, step in enumerate(plan):
            op = f"{i:02d}_{step.kind}"
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"lake.{step.kind}", op):
                    self._apply(spark, table, src, step)
                results.append(OpResult(op, time.perf_counter() - t0, True))
            except Exception as e:
                ctx.fail(f"lake {tag} {op}: {type(e).__name__}: {e}")
                results.append(OpResult(op, time.perf_counter() - t0, False))
                break
            if step.kind == "optimize" and tag != "warm":  # what the pass wrote, before vacuum drops history
                stats = {
                    "bytes_written": _tree_bytes(root)[0],
                    "files_written": _tree_bytes(root, "data/**/*.parquet")[1],
                    "log_bytes": _tree_bytes(root, "_log/**/*")[0],
                }
                if ctx.tracer.traced:
                    where = next(s.arg for s in plan if s.kind == "read_where")
                    kept, total = table.plan_files(where)
                    stats["skip_ratio"] = 1.0 - len(kept) / max(1, total)
                self.pass_stats.append(stats)
        self.last_table, self.last_root = table, root
        return results

    @staticmethod
    def _apply(spark, table: VersionedTable, src: Path, step: LakeStep) -> None:
        k, arg = step.kind, step.arg
        if k == "create":
            table.create(spark.read.parquet(str(src / "base.parquet")))
        elif k == "append":
            table.append(spark.read.parquet(str(src / f"append_{arg}.parquet")))
        elif k == "update":
            table.update(*arg)
        elif k == "merge_upsert":
            table.merge_upsert(spark.read.parquet(str(src / "merge.parquet")), ["l_rowid"])
        elif k == "delete":
            table.delete(arg)
        elif k == "optimize":
            table.optimize()
        elif k == "vacuum":
            table.vacuum(keep_versions=1, orphan_retention_seconds=0)
        elif k == "read":
            write_noop(table.read())
        elif k == "read_version":
            write_noop(table.read(0))
        elif k == "read_where":
            write_noop(table.read_where(arg))
        elif k == "changes":
            latest = table.history()[0]["version"]  # newest first
            write_noop(table.changes(max(0, latest - 1), latest))

    def finish(self, ctx: Context) -> None:
        """The last pass's table must equal a DuckDB replay of the plan."""
        ctx.attempted += 1
        src = ctx.work / "lake"
        con = duckdb.connect()
        con.execute(f"SET file_search_path = '{src}'")
        for step in self.plan:
            if step.sql:
                for stmt in step.sql.split(";"):
                    con.execute(stmt)
        cols = [c[0] for c in con.execute("DESCRIBE t").fetchall()]
        want = con.execute("SELECT * FROM t ORDER BY l_rowid").fetch_arrow_table()
        con.execute(f"COPY t TO '{ctx.work / 'replay.parquet'}' (FORMAT parquet)")
        con.close()
        got = self.last_table.read().select(*cols).orderBy("l_rowid").toPandas()
        want_df = want.to_pandas()
        stored, _ = _tree_bytes(self.last_root)
        self.stored_ratio = stored / (ctx.work / "replay.parquet").stat().st_size
        if len(got) != len(want_df):
            ctx.fail(f"lake: {len(got)} rows, replay has {len(want_df)}")
            return
        for c in cols:
            a, b = got[c].to_numpy(), want_df[c].to_numpy()
            if a.dtype.kind == "M" or b.dtype.kind == "M":
                a, b = a.astype("datetime64[us]").astype("int64"), b.astype("datetime64[us]").astype("int64")
            if not np.array_equal(a, b):
                ctx.fail(f"lake: column {c} differs from the replay")
                return


class LakeStream:
    """The lakehouse: the seed's DML pass on a ``VersionedTable``, then
    streaming ingest into versioned tables through the streaming entries."""

    min_passes = 1

    def __init__(self) -> None:
        self.lake = LakeDml()
        self.stream = StreamIngest()

    def module_of(self, op: str) -> str:
        return MODULE_OF.get(op, "lake")

    def input_rows(self) -> int:
        return self.lake.input_rows() + self.stream.input_rows()

    def prepare(self, ctx: Context) -> None:
        self.lake.prepare(ctx)
        self.stream.prepare(ctx)
        self.stream.attach(ctx.spark)

    def warm_and_check(self, ctx: Context) -> float:
        return self.lake.warm_and_check(ctx) + self.stream.warm_and_check(ctx)

    def run_pass(self, ctx: Context, pass_index: int) -> list[OpResult]:
        return self.lake.run_pass(ctx, pass_index) + self.stream.run_pass(ctx, pass_index)

    def finish(self, ctx: Context) -> None:
        self.lake.finish(ctx)
        self.stream.finish(ctx)


WORKLOADS = {
    "serving": Serving,
    "lake_stream": LakeStream,
}
