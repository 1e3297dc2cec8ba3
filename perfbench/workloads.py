"""The benchmark's workloads: seeded op lists, the ops themselves, and an
independent reference for every op's output.

A workload is built from a seed alone (``WORKLOADS[name](seed, data_dir)``).
``generate()`` writes its parquet inputs without Spark; ``run(spark, op,
tracer)`` executes one op against the engine's public functions and returns
its materialised output and the input rows it consumed; ``check_all``
compares every op's output with a reference that does not go through the
engine (DuckDB over the same parquet, or plain Python and pandas).

Every call into a repo layer is wrapped in ``tracer.span(<layer>)``. In an
untraced run the tracer is a no-op.
"""

from __future__ import annotations

import collections
import glob
import os
import shutil
import tempfile

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.layers import dir_bytes, snapshot_extras
from ray_beam_runner_spark.pipeline import DoFn, TaggedOutput

ACTION = "spark.action"  # span around the call that makes Spark run a plan


def oracle_frame(oracle_sql: str, data_dir: str) -> pd.DataFrame:
    """A registered DuckDB oracle's result over the parquet in ``data_dir``."""
    from ray_beam_runner_spark.plans.differential import duckdb_connect

    con = duckdb_connect(data_dir)
    try:
        return con.execute(oracle_sql).fetchdf()
    finally:
        con.close()


def frame_check(actual: pd.DataFrame, expected: pd.DataFrame) -> tuple[bool, str]:
    """The oracle protocol of ``plans.differential.compare`` (canonicalise,
    then compare) against an already canonical reference frame."""
    from ray_beam_runner_spark.plans.differential import canonicalize

    if len(actual) != len(expected):
        return False, f"row count: engine={len(actual)} reference={len(expected)}"
    if sorted(actual.columns) != list(expected.columns):
        return False, f"columns: engine={sorted(actual.columns)} reference={list(expected.columns)}"
    a = canonicalize(actual)
    if a.equals(expected):
        return True, f"ok ({len(a)} rows)"
    bad = (a != expected).any(axis=1)
    return False, f"{int(bad.sum())}/{len(a)} rows differ; first engine row {a[bad].iloc[0].tolist()}, reference {expected[bad].iloc[0].tolist()}"


class Workload:
    """Base: a seeded op list over inputs written to ``data_dir``."""

    name = ""
    tables: tuple[str, ...] = ()
    n_cycles = 12  # cycle 0 warms up; a timed pass of up to 60 s takes at most 9 more

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self.rng = np.random.default_rng([seed, *self.name.encode()])  # one stream per workload and part
        self.ops = self.make_ops()
        for i, op in enumerate(self.ops):
            op.setdefault("id", i)

    def make_ops(self) -> list[dict]:
        raise NotImplementedError

    def generate(self) -> None:
        gen.write_tables(gen.base_tables(self.seed, self.tables), self.data_dir)

    def layer_extras(self, spark, recs: list[dict]) -> dict:
        """Per-layer metrics only this workload can derive."""
        return {}

    def run(self, spark, op: dict, tr) -> tuple[object, int]:
        raise NotImplementedError

    def reference(self, op: dict) -> pd.DataFrame:
        """The op's expected output, computed without the engine."""
        raise NotImplementedError

    def as_frame(self, op: dict, output) -> pd.DataFrame:
        """The op's output in the reference's shape."""
        return output

    def check_all(self, done: list[tuple[dict, object]]) -> list[tuple[bool, str] | None]:
        """Check every op's output against its reference, which is computed
        and canonicalised once per distinct op; None for ops that produced
        no output (they already count as failed)."""
        from ray_beam_runner_spark.plans.differential import canonicalize

        expected: dict[str, pd.DataFrame] = {}
        out = []
        for op, output in done:
            if output is None:
                out.append(None)
                continue
            if op["key"] not in expected:
                expected[op["key"]] = canonicalize(self.reference(op))
            out.append(frame_check(self.as_frame(op, output), expected[op["key"]]))
        return out

    def cleanup(self, spark) -> None:
        """Release what the last op left behind: persisted frames, cached
        tables, and the registry's scratch tables and checkpoints."""
        from ray_beam_runner_spark.caches import release_tracked

        release_tracked()
        spark.catalog.clearCache()
        for d in glob.glob(os.path.join(tempfile.gettempdir(), "rbrs_scratch_*", "*")):
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# sql_analytics: registry queries over the base tables
# ---------------------------------------------------------------------------


class SqlAnalytics(Workload):
    """The headline five, multi-join TPC-H shapes, ranking windows and
    grouping sets from the query registry, each checked against its
    registered DuckDB oracle."""

    name = "sql_analytics"
    tables = gen.TPCH + ("events",)
    QUERY_SET = [
        "q_agg",
        "q_join",
        "q_window",
        "q_events_window",
        "q_distinct",
        "q_shipping_priority",
        "q_local_supplier_volume",
        "q_grouping_sets",
    ]

    def __init__(self, seed: int, data_dir: str):
        super().__init__(seed, data_dir)
        self._input_rows: dict[str, int] = {}

    def make_ops(self):
        return [{"cycle": c, "kind": q, "key": q} for c, q in gen.cycles(self.rng, self.QUERY_SET, self.n_cycles)]

    def run(self, spark, op, tr):
        from ray_beam_runner_spark.queries import QUERIES

        with tr.span("queries"):
            df = QUERIES[op["kind"]](spark, self.data_dir)
        with tr.span(ACTION):
            pdf = df.toPandas()
        tr.note_df(df)
        if op["kind"] not in self._input_rows:
            files = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
            self._input_rows[op["kind"]] = sum(gen.ROWS[t] for t in files if t in gen.ROWS)
        return pdf, self._input_rows[op["kind"]]

    def reference(self, op):
        from ray_beam_runner_spark.queries import ORACLE

        return oracle_frame(ORACLE[op["kind"]], self.data_dir)


# ---------------------------------------------------------------------------
# python_dataflow: Beam-model pipelines and the LLM operators
# ---------------------------------------------------------------------------


def _words(text: str) -> list[str]:
    return text.split()


def _kv_user_mod(r):
    return (r["user_id"] % 50, r["value"])


def _kv_user_mod100(r):
    return (r["user_id"] % 100, r["value"])


def _is_word(word: str) -> bool:
    return len(word) > 1


class _WindowCount(DoFn):
    """DoFn over a GBK output: emit (key, window start, count, sum)."""

    def process(self, element, timestamp=None, window=None, **side):
        key, values = element
        # values carry two decimals: sum them as integer cents, exactly
        yield (key, window[0], len(values), sum(round(v * 100) for v in values) / 100)


class _WeighAndSplit(DoFn):
    """Weigh each event's value by its type's weight (an AsDict side
    input); purchases and errors go to tagged outputs."""

    def process(self, element, timestamp=None, window=None, weights=None):
        kind = element["event_type"]
        value = round(element["value"] * weights[kind], 2)
        yield TaggedOutput(kind, value) if kind in ("purchase", "error") else value


WEIGHTS = {"click": 1.0, "error": 0.0, "purchase": 2.0, "signup": 1.5, "view": 0.5}


class PythonDataflow(Workload):
    """Opaque-Python pipelines (ParDo, keyed grouping and combiners,
    event-time windows, a side input, tagged outputs) and two LLM
    operators, each over its own seeded input batch."""

    name = "python_dataflow"
    tables = ("documents", "events", "embeddings")
    KINDS = ["wordcount", "fixed_gbk", "sessions", "side_tagged", "minhash_lsh", "cosine_topk"]
    N_BATCHES = 3
    DOCS_PER_BATCH = 400
    EVENTS_PER_BATCH = 3_000
    QUERIES_PER_BATCH = 8

    def __init__(self, seed: int, data_dir: str):
        super().__init__(seed, data_dir)
        self._pipelines: list = []  # to release after the op (the warm-up runs several at once)

    def make_ops(self):
        ops = []
        for c, kind in gen.cycles(self.rng, self.KINDS, self.n_cycles):
            b = int(self.rng.integers(0, self.N_BATCHES))
            ops.append({"cycle": c, "kind": kind, "batch": b, "key": f"{kind}/{b}"})
        return ops

    def batch_dir(self, b: int) -> str:
        return os.path.join(self.data_dir, f"batch{b}")

    def generate(self):
        tables = gen.base_tables(self.seed, self.tables)
        rng = np.random.default_rng([self.seed, 8])
        for b in range(self.N_BATCHES):
            d0 = int(rng.integers(0, gen.ROWS["documents"] - self.DOCS_PER_BATCH))
            e0 = int(rng.integers(0, gen.ROWS["events"] - self.EVENTS_PER_BATCH))
            q_ids = np.sort(rng.choice(gen.ROWS["embeddings"], self.QUERIES_PER_BATCH, replace=False))
            gen.write_tables(
                {
                    "documents": tables["documents"].slice(d0, self.DOCS_PER_BATCH),
                    "events": tables["events"].slice(e0, self.EVENTS_PER_BATCH),
                    "embeddings": tables["embeddings"],
                    "queries": pa.table({"q_id": pa.array(q_ids, pa.int64())}),
                },
                self.batch_dir(b),
            )

    def run(self, spark, op, tr):
        from ray_beam_runner_spark.pipeline import Pipeline

        d = self.batch_dir(op["batch"])
        kind = op["kind"]
        if kind in ("minhash_lsh", "cosine_topk"):
            return self._run_function(spark, kind, d, tr)
        p = Pipeline(spark)
        self._pipelines.append(p)
        with tr.span("pipeline"):
            pcoll, rows = self._build(spark, p, kind, d)
        with tr.span(ACTION):
            out = {t: pc.collect() for t, pc in pcoll.items()} if isinstance(pcoll, dict) else pcoll.collect()
        tr.note_df(pcoll["main"].df if isinstance(pcoll, dict) else pcoll.df)
        return out, rows

    def cleanup(self, spark):
        while self._pipelines:
            self._pipelines.pop().release()
        super().cleanup(spark)

    def _build(self, spark, p, kind, d):
        from pyspark.sql import functions as F

        from ray_beam_runner_spark.pipeline import AsDict
        from ray_beam_runner_spark.session import read_parquet_normalized
        from ray_beam_runner_spark.windowing import FixedWindows, Sessions

        if kind == "wordcount":
            docs = read_parquet_normalized(spark, os.path.join(d, "documents.parquet"))
            rows = self.DOCS_PER_BATCH
        else:
            ev = read_parquet_normalized(spark, os.path.join(d, "events.parquet"))
            rows = self.EVENTS_PER_BATCH
        if kind == "wordcount":
            # opaque flat_map, filter and map, then a typed combiner
            pc = (
                p.from_dataframe(docs, "text")
                .flat_map(_words)
                .filter(_is_word)
                .map_to_kv(lambda w: (w, 1), key_type="string", value_type="long")
                .combine_per_key("sum")
            )
        elif kind == "fixed_gbk":
            pc = (
                p.from_dataframe(ev.select(F.struct("user_id", "value").alias("v"), "ts"), "v", "ts")
                .map_to_kv(_kv_user_mod, key_type="long", value_type="double")
                .window_into(FixedWindows(3600))
                .group_by_key()
                .par_do(_WindowCount())
            )
        elif kind == "sessions":
            pc = (
                p.from_dataframe(ev.select(F.struct("user_id", "value").alias("v"), "ts"), "v", "ts")
                .map_to_kv(_kv_user_mod100, key_type="long", value_type="double")
                .window_into(Sessions(1800))
                .group_by_key()
                .par_do(_WindowCount())
            )
        elif kind == "side_tagged":
            # an AsDict side input and tagged outputs in one ParDo; the main
            # output then takes the typed fast path (pure Catalyst)
            weights = p.create(sorted(WEIGHTS.items()))
            outs = p.from_dataframe(
                ev.select(F.struct("event_id", "event_type", "value").alias("v")), "v"
            ).par_do(
                _WeighAndSplit(),
                output_type="double",
                outputs=("purchase", "error"),
                side_inputs={"weights": AsDict(weights)},
            )
            pc = dict(outs, main=outs["main"].select_expr("round(value * 2, 2) AS value"))
        else:
            raise ValueError(kind)
        return pc, rows

    def _run_function(self, spark, kind, d, tr):
        from pyspark.sql import functions as F

        from ray_beam_runner_spark.functions.dedup import minhash_lsh_pairs
        from ray_beam_runner_spark.functions.similarity import cosine_topk
        from ray_beam_runner_spark.session import read_parquet_normalized

        if kind == "minhash_lsh":
            docs = read_parquet_normalized(spark, os.path.join(d, "documents.parquet"))
            with tr.span("functions"):
                df = minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
            rows = self.DOCS_PER_BATCH
        else:
            emb = read_parquet_normalized(spark, os.path.join(d, "embeddings.parquet"))
            q_ids = _query_ids(d)
            queries = emb.filter(F.col("vec_id").isin(q_ids)).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
            )
            with tr.span("functions"):
                df = cosine_topk(queries, emb.filter(~F.col("vec_id").isin(q_ids)), k=5)
            rows = gen.ROWS["embeddings"]
        with tr.span(ACTION):
            pdf = df.toPandas()
        tr.note_df(df)
        return pdf, rows

    # -- references --------------------------------------------------------

    def reference(self, op):
        from ray_beam_runner_spark.queries import ORACLE

        d, kind = self.batch_dir(op["batch"]), op["kind"]
        if kind == "minhash_lsh":
            return oracle_frame(ORACLE["q_dedup_minhash_lsh"], d)
        if kind == "cosine_topk":
            return oracle_frame(_cosine_oracle(d), d)
        if kind == "wordcount":
            docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
            counts = collections.Counter(w for t in docs["text"] for w in _words(t) if _is_word(w))
            return pd.DataFrame(sorted(counts.items()), columns=["k", "v"])
        ev_table = pq.read_table(os.path.join(d, "events.parquet"))
        ev = ev_table.drop(["ts"]).to_pandas()
        ev["ts_us"] = ev_table["ts"].cast(pa.int64()).to_numpy()
        if kind in ("fixed_gbk", "sessions"):
            return _window_reference(ev, kind)
        if kind == "side_tagged":
            rows = []
            for kind_, v in zip(ev["event_type"], ev["value"]):
                w = round(v * WEIGHTS[kind_], 2)
                rows.append((kind_, w) if kind_ in ("purchase", "error") else ("main", round(w * 2, 2)))
            return pd.DataFrame(rows, columns=["tag", "v"])
        raise ValueError(kind)

    def as_frame(self, op, output):
        kind = op["kind"]
        if kind in ("minhash_lsh", "cosine_topk"):
            return output
        if kind == "wordcount":
            return pd.DataFrame(output, columns=["k", "v"])
        if kind in ("fixed_gbk", "sessions"):
            return pd.DataFrame(output, columns=["k", "w", "n", "s"])
        if kind == "side_tagged":
            return pd.DataFrame([(t, v) for t, vs in output.items() for v in vs], columns=["tag", "v"])
        raise ValueError(kind)


def _query_ids(d: str) -> list[int]:
    return [int(x) for x in pq.read_table(os.path.join(d, "queries.parquet"))["q_id"].to_pylist()]


def _cosine_oracle(d: str) -> str:
    q_ids = ", ".join(map(str, _query_ids(d)))
    return f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id IN ({q_ids})),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id NOT IN ({q_ids})),
    s AS (SELECT q_id, vec_id, round(list_cosine_similarity(qv, cv), 6) AS sim FROM q CROSS JOIN c)
    SELECT q_id, vec_id, sim, rank FROM (
      SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)::INT AS rank
      FROM s)
    WHERE rank <= 5
    """


def _window_reference(ev: pd.DataFrame, kind: str) -> pd.DataFrame:
    """Per (key, window): count and sum of values, in plain Python.
    Event time is epoch seconds of the microsecond timestamp, as the
    pipeline's ``from_dataframe`` casts it."""
    ts = ev["ts_us"] / 1e6
    keys = ev["user_id"] % (50 if kind == "fixed_gbk" else 100)
    groups: dict = collections.defaultdict(list)
    for k, t, v in zip(keys.tolist(), ts.tolist(), ev["value"].tolist()):
        groups[k].append((t, v))
    rows = []
    for k, items in groups.items():
        if kind == "fixed_gbk":
            wins: dict = collections.defaultdict(list)
            for t, v in items:
                wins[np.floor(t / 3600) * 3600].append(v)
            rows += [(k, w, len(vs), _cents_sum(vs)) for w, vs in wins.items()]
        else:  # sessions: a new session starts when the gap reaches 1800 s
            items.sort()
            start, end, vs = None, None, []
            for t, v in items:
                if start is not None and t > end:
                    rows.append((k, start, len(vs), _cents_sum(vs)))
                    start, vs = None, []
                if start is None:
                    start, end = t, t + 1800
                end = max(end, t + 1800)
                vs.append(v)
            rows.append((k, start, len(vs), _cents_sum(vs)))
    return pd.DataFrame(rows, columns=["k", "w", "n", "s"])


def _cents_sum(values) -> float:
    return sum(round(v * 100) for v in values) / 100


# ---------------------------------------------------------------------------
# table_commits: a seeded sequence of snapshot-table commits
# ---------------------------------------------------------------------------


class TableCommits(Workload):
    """Snapshot-table writes, MERGE upserts, copy-on-write and
    deletion-vector DELETEs and UPDATEs on an orders/lineitem-derived
    table, each followed by a read of the latest snapshot. The reference
    replays the same op sequence in DuckDB."""

    name = "table_commits"
    tables = ("orders", "lineitem")
    KINDS = ["write", "merge", "update", "delete", "delete_dv"]
    TABLE_ROWS = 20_000
    MERGE_ROWS = 200

    def __init__(self, seed: int, data_dir: str):
        super().__init__(seed, data_dir)
        self.changed: dict[int, int] = {}  # op id -> rows its commit changed, from the replay

    def make_ops(self):
        # a fixed order within each cycle, starting from a fresh write, so
        # every op meets the same table state whatever the seed; the seed
        # sets the keys and predicates (and, in a mix, the interleaving)
        ops = []
        for c in range(self.n_cycles):
            for kind in self.KINDS:
                op = {"cycle": c, "kind": kind, "key": f"{kind}/{len(ops)}"}
                if kind in ("delete", "delete_dv", "update"):
                    op["mod"] = int(self.rng.choice([89, 97, 101, 103, 107, 109, 113]))
                    op["rem"] = int(self.rng.integers(0, op["mod"]))
                if kind == "merge":
                    op["lo"] = int(self.rng.integers(0, self.TABLE_ROWS))
                if kind == "update":
                    op["priority"] = str(self.rng.choice(gen._PRIORITIES))
                ops.append(op)
        return ops

    def table_dir(self, op: dict | None = None) -> str:
        """The main table, which the warm-up's write creates. Every other
        warm-up op (cycle 0) gets a table of its own, so the warm-up ops
        can run concurrently."""
        if op is not None and op["cycle"] == 0 and op["kind"] != "write":
            return os.path.join(self.data_dir, f"table_warm_{op['kind']}")
        return os.path.join(self.data_dir, "table")

    def generate(self):
        t = gen.base_tables(self.seed, self.tables)
        orders = t["orders"].slice(0, self.TABLE_ROWS)
        li = t["lineitem"]
        keys = li["l_orderkey"].to_numpy()
        qty = li["l_quantity"].to_numpy()
        n = self.TABLE_ROWS
        mask = keys < n
        base = orders.append_column("l_count", pa.array(np.bincount(keys[mask], minlength=n), pa.int64()))
        base = base.append_column("l_qty", pa.array(np.bincount(keys[mask], qty[mask], minlength=n)))
        gen.write_tables({"base": base}, self.data_dir)
        # merge sources: a key span of the table plus as many new keys
        rng = np.random.default_rng([self.seed, 9])
        for op in self.ops:
            if op["kind"] != "merge":
                continue
            half = self.MERGE_ROWS // 2
            old = np.arange(op["lo"], op["lo"] + half) % n
            new = n + op["id"] * half + np.arange(half)
            k = np.concatenate([old, new])
            src = pa.table(
                {
                    "o_orderkey": pa.array(k, pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, gen.ROWS["customer"], len(k)), pa.int64()),
                    "o_orderstatus": gen._choice(["F", "O", "P"], rng.integers(0, 3, len(k))),
                    "o_totalprice": np.round(rng.integers(100000, 50000000, len(k)) / 100.0, 2),
                    "o_orderdate": base["o_orderdate"].take(pa.array(k % n)),
                    "o_orderpriority": gen._choice(gen._PRIORITIES, rng.integers(0, 5, len(k))),
                    "l_count": pa.array(rng.integers(0, 8, len(k)), pa.int64()),
                    "l_qty": rng.integers(0, 200, len(k)).astype(np.float64),
                }
            )
            gen.write_tables({f"merge{op['id']}": src}, self.data_dir)

    def _path(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}.parquet")

    def run(self, spark, op, tr):
        from pyspark.sql import functions as F

        from ray_beam_runner_spark.sources import snapshots as S

        kind, d = op["kind"], self.table_dir(op)
        cond = f"o_orderkey % {op.get('mod', 1)} = {op.get('rem', 0)}"
        rows = 0
        if op["cycle"] == 0 and kind != "write":  # a warm-up table starts from the base rows
            S.write_snapshot(spark.read.parquet(self._path("base")), d, cluster_by=["o_orderkey"])
        before = dir_bytes(d) if tr.traced else 0
        with tr.span("sources.snapshots", sub=kind):
            if kind == "write":
                S.write_snapshot(spark.read.parquet(self._path("base")), d, cluster_by=["o_orderkey"])
                rows = self.TABLE_ROWS
            elif kind == "merge":
                S.merge_into(
                    spark,
                    d,
                    spark.read.parquet(self._path(f"merge{op['id']}")),
                    ["o_orderkey"],
                    update_set={c: f"s.{c}" for c in ("o_orderstatus", "o_totalprice", "o_orderpriority", "l_count", "l_qty")},
                )
                rows = self.MERGE_ROWS
            elif kind == "delete":
                S.delete_where(spark, d, F.expr(cond))
            elif kind == "delete_dv":
                S.delete_where(spark, d, F.expr(cond), dv=True)
            elif kind == "update":
                S.update_where(spark, d, {"o_orderpriority": f"'{op['priority']}'"}, F.expr(cond))
        if tr.traced:
            tr.note("commit_bytes", dir_bytes(d) - before)
        with tr.span("sources.snapshots", sub="read"):
            df = S.read_snapshot(spark, d)
        with tr.span(ACTION):
            pdf = df.toPandas()
        tr.note_df(df)
        return pdf, rows + len(pdf)

    def replay(self, ops: list[dict]) -> list[pd.DataFrame]:
        """The table after each op, by DuckDB SQL over the same inputs."""
        con = duckdb.connect()
        try:
            base = self._path("base")
            con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{base}')")
            out = []
            for op in ops:
                kind = op["kind"]
                cond = f"o_orderkey % {op.get('mod', 1)} = {op.get('rem', 0)}"
                if kind in ("delete", "delete_dv", "update"):
                    self.changed[op["id"]] = con.execute(f"SELECT count(*) FROM t WHERE {cond}").fetchone()[0]
                else:
                    self.changed[op["id"]] = self.MERGE_ROWS if kind == "merge" else self.TABLE_ROWS
                if kind == "write":
                    con.execute(f"DELETE FROM t; INSERT INTO t SELECT * FROM read_parquet('{base}')")
                elif kind == "merge":
                    src = self._path(f"merge{op['id']}")
                    con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM read_parquet('{src}')")
                    con.execute(
                        "UPDATE t SET o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice, "
                        "o_orderpriority = s.o_orderpriority, l_count = s.l_count, l_qty = s.l_qty "
                        "FROM s WHERE t.o_orderkey = s.o_orderkey"
                    )
                    con.execute("INSERT INTO t SELECT * FROM s WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)")
                elif kind in ("delete", "delete_dv"):
                    con.execute(f"DELETE FROM t WHERE {cond}")
                elif kind == "update":
                    con.execute(f"UPDATE t SET o_orderpriority = '{op['priority']}' WHERE {cond}")
                out.append(con.execute("SELECT * FROM t").fetchdf())
            return out
        finally:
            con.close()

    def check_all(self, done):
        """Every read-back against the DuckDB replay, per table, of the
        sequence the run executed on it (an op that raised may still have
        committed, so the replay also covers it)."""
        out: list = [None] * len(done)
        for d in {self.table_dir(op) for op, _ in done}:
            idx = [i for i, (op, _) in enumerate(done) if self.table_dir(op) == d]
            expected = self.replay([done[i][0] for i in idx])
            for i, exp in zip(idx, expected):
                if done[i][1] is not None:
                    out[i] = _table_check(done[i][1], exp)
        return out

    def layer_extras(self, spark, recs):
        return snapshot_extras(spark, self.table_dir(), recs, self.changed)


def _table_check(actual: pd.DataFrame, expected: pd.DataFrame) -> tuple[bool, str]:
    """Exact comparison, rows ordered by key: the table's values are
    stored, never computed, so no rounding protocol is needed."""
    if len(actual) != len(expected):
        return False, f"row count: engine={len(actual)} reference={len(expected)}"
    if sorted(actual.columns) != sorted(expected.columns):
        return False, f"columns: engine={sorted(actual.columns)} reference={sorted(expected.columns)}"
    a = actual.sort_values("o_orderkey", kind="stable").reset_index(drop=True)
    e = expected.sort_values("o_orderkey", kind="stable").reset_index(drop=True)
    for c in a.columns:
        x, y = a[c], e[c]
        if pd.api.types.is_datetime64_any_dtype(x):
            x, y = x.astype("datetime64[us]"), y.astype("datetime64[us]")
        if not np.array_equal(x.to_numpy(), y.to_numpy().astype(x.dtype, copy=False)):
            i = int(np.argmax(x.to_numpy() != y.to_numpy().astype(x.dtype, copy=False)))
            return False, f"column {c} differs at key {a['o_orderkey'][i]}: engine={x[i]!r} reference={y[i]!r}"
    return True, f"ok ({len(a)} rows)"


# ---------------------------------------------------------------------------
# streaming_ingest: file-drop streams drained by run_to_memory
# ---------------------------------------------------------------------------


class StreamingIngest(Workload):
    """Events replayed as FileDropStream slices through a watermarked
    window aggregate, a stateful running aggregate and watermark dedup,
    each drained by run_to_memory (the registry's streaming queries, run
    over seeded event batches) and checked against their DuckDB oracles."""

    name = "streaming_ingest"
    tables = ("events",)
    KINDS = ["q_streaming_window", "q_streaming_stateful", "q_streaming_dedup"]
    N_BATCHES = 4
    EVENTS_PER_BATCH = 3_000
    _drained = False

    def make_ops(self):
        ops = []
        for c, kind in gen.cycles(self.rng, self.KINDS, self.n_cycles):
            b = int(self.rng.integers(0, self.N_BATCHES))
            ops.append({"cycle": c, "kind": kind, "batch": b, "key": f"{kind}/{b}"})
        return ops

    def batch_dir(self, b: int) -> str:
        return os.path.join(self.data_dir, f"batch{b}")

    def generate(self):
        events = gen.base_tables(self.seed, self.tables)["events"]
        rng = np.random.default_rng([self.seed, 10])
        for b in range(self.N_BATCHES):
            e0 = int(rng.integers(0, gen.ROWS["events"] - self.EVENTS_PER_BATCH))
            gen.write_tables({"events": events.slice(e0, self.EVENTS_PER_BATCH)}, self.batch_dir(b))

    def run(self, spark, op, tr):
        from ray_beam_runner_spark.queries import QUERIES

        self._drained = True
        with tr.span("streaming"):
            df = QUERIES[op["kind"]](spark, self.batch_dir(op["batch"]))
        with tr.span(ACTION):
            pdf = df.toPandas()
        tr.note_df(df)
        return pdf, self.EVENTS_PER_BATCH

    def cleanup(self, spark):
        # the drained memory-sink tables
        if self._drained:
            for t in spark.catalog.listTables():
                if t.isTemporary and t.name.startswith("mem_"):
                    spark.catalog.dropTempView(t.name)
            self._drained = False
        super().cleanup(spark)

    def reference(self, op):
        from ray_beam_runner_spark.queries import ORACLE

        return oracle_frame(ORACLE[op["kind"]], self.batch_dir(op["batch"]))


# ---------------------------------------------------------------------------
# the benchmark's workloads: two parts each, interleaved
# ---------------------------------------------------------------------------


class Mix(Workload):
    """Parts interleaved one cycle at a time: every kind of every part
    runs once per cycle, in a seeded order that keeps each part's own
    order. Each part keeps its own inputs, op sequence and references."""

    PARTS: tuple = ()

    def __init__(self, seed: int, data_dir: str):
        self.parts = [cls(seed, os.path.join(data_dir, cls.name)) for cls in self.PARTS]
        for k, part in enumerate(self.parts):
            for op in part.ops:  # in place: a part names its inputs by op id
                op["id"] += (k + 1) * 100_000
                op["part"] = k
        super().__init__(seed, data_dir)

    def make_ops(self):
        # per cycle, a seeded interleaving that keeps each part's own order
        ops = []
        for c in range(self.n_cycles):
            queues = [collections.deque(op for op in part.ops if op["cycle"] == c) for part in self.parts]
            labels = [k for k, q in enumerate(queues) for _ in q]
            ops += [queues[k].popleft() for k in self.rng.permutation(labels)]
        return ops

    def generate(self):
        for part in self.parts:
            part.generate()

    def run(self, spark, op, tr):
        return self.parts[op["part"]].run(spark, op, tr)

    def cleanup(self, spark):
        for part in self.parts:
            part.cleanup(spark)

    def check_all(self, done):
        out: list = [None] * len(done)
        for k, part in enumerate(self.parts):
            idx = [i for i, (op, _) in enumerate(done) if op["part"] == k]
            for i, res in zip(idx, part.check_all([done[i] for i in idx])):
                out[i] = res
        return out

    def layer_extras(self, spark, recs):
        return {k: v for part in self.parts for k, v in part.layer_extras(spark, recs).items()}


class Relational(Mix):
    """Registry SQL queries beside snapshot-table commits and reads: plans
    that stay in the JVM, and the only traffic through sources.snapshots."""

    name = "relational"
    PARTS = (SqlAnalytics, TableCommits)
    nominal_cycle_s = 7.0  # one warm cycle on the 4-core reference box


class Dataflow(Mix):
    """Beam-model pipelines, LLM operators and stream drains: opaque user
    Python, windows and state, and the only traffic through pipeline,
    functions and streaming."""

    name = "dataflow"
    PARTS = (PythonDataflow, StreamingIngest)
    nominal_cycle_s = 14.0  # one warm cycle on the 4-core reference box


WORKLOADS = {w.name: w for w in (Relational, Dataflow)}
