"""The benchmark's three closed-loop workloads.

Each workload is driven by one client thread: the next operation starts
when the previous one has returned. A workload builds its inputs from the
seed in ``setup``, yields seeded operations from ``ops``, runs one in
``run`` (the timed part) and checks every result in ``check`` after the
timed loop, against an oracle that does not use the program's read path:
DuckDB over the store's own parquet files, the source payload digests,
or the registry's DuckDB oracle SQL.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import os
import random
import time

import duckdb
import pyarrow.parquet as pq

import gen
import stats
from spans import inclusive_ms, jobs_within

# Byte-cap tiling, scaled down from the reference's 1.5 MB cap (which
# needs documents over 10 MB) with the chunk floors scaled alike.
CAP, FIRST_FLOOR, RESPLIT_FLOOR = 4096, 1024, 256
KEEP = ("user_id", "trigger", "type_of_event", "js_time_of_creation")

ANALYTICS_QUERIES = (
    "events_filtered_topk", "events_latest_per_user", "events_session_windows",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q18_large_volume_customer", "dedup_minhash_lsh",
    "dedup_connected_components", "dedup_components_two_star",
    "dedup_semantic_cells", "knn_bruteforce_cosine", "doc_tile_bytecap_roundtrip",
    "multimodal_phash_near_dup", "bm25_topk",
)
#: Analytics inputs do not depend on the run's seed: the tables come from a
#: fixed seed and the queries run in list order. A seeded order moves the
#: JVM's first-use JIT and code-generation costs from query to query, which
#: spread op_p50_ms by 28 % and op_p90_ms by 41 % over five seeds; a full
#: untimed warm-up pass removes that but costs ~30 s a run, more than the
#: time budget holds. sf0.01 (the correctness tier's scale), not sf0.1: a
#: cold sf0.1 pass takes ~40 s on 4 cores.
ANALYTICS_DATA_SEED, ANALYTICS_SF = 20240101, 0.01

#: reads request deck, run whole: 4 point reads (each for an absent id
#: with probability 0.1), 3 user-scoped scans, 1 global scan, 1 cursor and
#: 1 split-record reassembly, in this fixed order. A run executes whole
#: decks, so every run and seed sees the same mix and the same number of
#: samples; the seed draws each request's parameters.
READ_DECK = ("point_read", "scan", "combined", "point_read", "scan", "global_scan",
             "point_read", "scan", "cursor", "point_read")


def _epoch_us(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp()) * 1_000_000 + v.microsecond
    return v


def _norm(cols, rows) -> list[tuple]:
    """Rows as tuples ordered by column name, timestamps as epoch µs."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_epoch_us(r[i]) for i in order) for r in rows]


def tile_log_rows(src):
    """``tile_bytecap`` a frame of logs under the byte cap and shape the
    chunks as LogChange rows: chunk ``k > 0`` gets the reference's
    ``{id}_split{k}`` id and every chunk of a split record points at the
    record through ``parent_log_id``. The rows keep the plain-text
    ``chunk``, which ``LogStore.combined`` reassembles, beside the
    validated archive."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.logstore import tile
    from bigdatatiler_spark.logstore.ids import split_id

    tiled = tile.tile_bytecap(src, "payload", "id", max_zip_bytes=CAP, keep_cols=KEEP,
                              first_floor=FIRST_FLOOR, resplit_floor=RESPLIT_FLOOR)
    return tiled.select(
        F.when(F.col("split_index") == 0, F.col("id"))
        .otherwise(split_id(F.col("id"), F.col("split_index"))).alias("id"),
        *KEEP, "split_index", "total_splits", F.col("parent_id").alias("parent_log_id"),
        "chunk", F.col("zipped").alias("zipped_log"), "zip_bytes",
    )


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def start_python_workers(spark) -> None:
    """Start one pandas-UDF Python worker per core, so that no timed
    operation pays for spawning one."""
    import pandas as pd
    from pyspark.sql.functions import col, pandas_udf

    def _identity(s):
        return s

    # real classes: this module's postponed annotations would be strings
    _identity.__annotations__ = {"s": pd.Series, "return": pd.Series}
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 100 * n, 1, n).select(pandas_udf(_identity, "long")(col("id"))) \
        .write.format("noop").mode("overwrite").save()


class Workload:
    """One workload: ``setup`` builds inputs from the seed, ``ops`` yields
    seeded operations, ``run`` executes one (the timed part), and
    ``check_all`` verifies every output after the timed loop."""

    name = ""

    def __init__(self, spark, seed: int, work: str, cache: str):
        self.spark, self.seed, self.work, self.cache = spark, seed, work, cache
        self.tracer = None
        self.info: dict = {}

    @contextlib.contextmanager
    def step(self, name: str):
        """Time one setup step into ``info['setup_steps_s']``."""
        t0 = time.perf_counter()
        yield
        self.info.setdefault("setup_steps_s", {})[name] = round(time.perf_counter() - t0, 3)

    def span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def record_df(self, df):
        if self.tracer:
            self.tracer.record_df(df)

    def trace_hooks(self, tracer) -> None:
        """Wrap the program's public functions this workload calls."""
        self.tracer = tracer

    def variant(self, op: dict, traced: bool) -> dict:
        """The op as run in the traced or the untraced half of a pair."""
        return op

    def after_op(self) -> None:
        pass

    def check(self, op: dict, out) -> bool:
        raise NotImplementedError

    def check_all(self, ops: list[dict], outs: list) -> list[bool]:
        return [out is not None and self.check(op, out) for op, out in zip(ops, outs)]

    def files_per_scan(self, op_trace) -> int:
        return 1

    def layer_metrics(self, tracer, done) -> dict[str, float]:
        """Per-layer metrics common to all workloads, from traced ops."""
        ops = tracer.ops
        m: dict[str, float] = {}
        for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
                    "spark.executor_cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
                    "spark.shuffle_write_bytes", "spark.spill_bytes", "scan.bytes_read",
                    "python.udf_rows", "python.bytes_sent", "python.bytes_returned"):
            m[key] = stats.mean(op.counts.get(key, 0.0) for op in ops)
        for ph in ("analysis", "optimization", "planning"):
            m[f"sql.{ph}_ms"] = stats.median(op.counts.get(f"sql.{ph}_ms", 0.0) for op in ops)
        m["spark.task_skew"] = stats.median((x for op in ops for x in op.stage_skews), 1.0)
        scanned = sum(op.counts.get("scan.nodes", 0.0) * self.files_per_scan(op) for op in ops)
        read = sum(op.counts.get("scan.files_read", 0.0) for op in ops)
        m["scan.files_read_ratio"] = read / scanned if scanned else 0.0
        return m


class LogstoreReads(Workload):
    """Point reads, filtered top-k scans, keyset cursors and split-record
    reassembly against a user-partitioned ``LogStore`` (sf0.01 events,
    150 user partitions) and a store of tiled schedule-change logs."""

    name = "logstore_reads"

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from bigdatatiler_spark.logstore import LogStore

        self.ev_path = os.path.join(self.work, "events_store")
        self.doc_path = os.path.join(self.work, "doc_store")
        self.events = LogStore(self.spark, self.ev_path)
        self.docs = LogStore(self.spark, self.doc_path)
        with self.step("generate"):
            ev = gen.events_table(0.01, self.seed)
            logs = gen.log_batch(self.seed, 0, 300, range(150), mean_bytes=12_000)
            pq.write_table(ev, os.path.join(self.work, "events.parquet"))
            pq.write_table(logs, os.path.join(self.work, "logs.parquet"))
        # both stores are written by the program: LogStore.create, the
        # documents tiled by tile_bytecap first
        with self.step("build_events_store"):
            # one task per core, each user's rows in one of them: one file
            # per partition, written in parallel
            self.events.create(
                self.spark.read.parquet(os.path.join(self.work, "events.parquet"))
                .repartition(self.spark.sparkContext.defaultParallelism, "user_id")
                .withColumnRenamed("event_id", "id")
                .withColumn("ts", F.col("ts").cast("timestamp")))
        with self.step("build_doc_store"):
            self.docs.create(tile_log_rows(
                self.spark.read.parquet(os.path.join(self.work, "logs.parquet"))))
        self.doc_md5 = dict(zip(logs.column("id").to_pylist(),
                                gen.md5_of(logs.column("payload").to_pylist())))
        self.ev_ids = ev.column("event_id").to_numpy()
        self.ev_users = ev.column("user_id").to_numpy()
        self.n_users = int(self.ev_users.max()) + 1
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW ev AS SELECT * FROM read_parquet('{self.ev_path}/*/*.parquet', hive_partitioning=true)"
        )
        self.con.execute(
            f"CREATE VIEW docs AS SELECT * FROM read_parquet('{self.doc_path}/*/*.parquet', hive_partitioning=true)"
        )
        splits = self.con.execute(
            "SELECT coalesce(parent_log_id, id), any_value(user_id), max(total_splits) FROM docs GROUP BY 1 ORDER BY 1"
        ).fetchall()
        self.split_docs = [(r, u) for r, u, n in splits if n > 1]
        self.whole_docs = [(r, u) for r, u, n in splits if n == 1]
        self.store_files = {"events": _dir_files(self.ev_path)[0], "docs": _dir_files(self.doc_path)[0]}
        self.info.update(
            store_partitions=sum(d.startswith("user_id=") for d in os.listdir(self.ev_path)),
            store_files=self.store_files,
            doc_records=len(splits), doc_split_records=len(self.split_docs),
            payload_size_histogram=gen.size_histogram(
                [len(p) for p in logs.column("payload").to_pylist()]),
        )
        warm = random.Random(self.seed ^ 0x5EED)
        with self.step("warm_up"):
            for kind in ("point_read", "combined"):
                self.run(self._request(warm, kind))

    def _window(self, rng: random.Random, max_days: int):
        start = gen.EVENTS_START + dt.timedelta(seconds=rng.randrange(0, 25 * 86400))
        return start, start + dt.timedelta(seconds=rng.randrange(86400, max_days * 86400))

    def _request(self, rng: random.Random, kind: str) -> dict:
        etype = rng.choice(gen.EVENT_TYPES)
        if kind == "point_read":
            if rng.random() < 0.1:
                return {"kind": kind, "user": rng.randrange(self.n_users),
                        "id": len(self.ev_ids) + rng.randrange(10**6)}
            i = rng.randrange(len(self.ev_ids))
            return {"kind": kind, "user": int(self.ev_users[i]), "id": int(self.ev_ids[i])}
        if kind == "scan":
            return {"kind": kind, "user": rng.randrange(self.n_users), "type": etype,
                    "window": self._window(rng, 10), "limit": rng.choice((10, 50, 100))}
        if kind == "global_scan":
            return {"kind": kind, "user": None, "type": etype,
                    "window": self._window(rng, 10), "limit": 100}
        if kind == "cursor":
            return {"kind": kind, "user": rng.randrange(self.n_users),
                    "page": rng.choice((10, 20)), "pages": 3}
        pool = self.split_docs if rng.random() < 0.7 else self.whole_docs
        rec, user = pool[rng.randrange(len(pool))]
        return {"kind": kind, "user": user, "id": rec}

    def ops(self):
        rng = random.Random(self.seed)
        while True:
            for i, kind in enumerate(READ_DECK):
                yield {**self._request(rng, kind), "last_of_pass": i == len(READ_DECK) - 1}

    def trace_hooks(self, tracer) -> None:
        from bigdatatiler_spark.logstore import LogStore, tile

        super().trace_hooks(tracer)
        for attr in ("point_read", "scan", "page", "combined"):
            tracer.wrap(LogStore, attr, "logstore.store.plan")
        tracer.wrap(tile, "reassemble", "logstore.tile.reassemble", returns_df=False)

    def files_per_scan(self, op_trace) -> int:
        return self.store_files["docs" if op_trace.kind == "combined" else "events"]

    def layer_metrics(self, tracer, done) -> dict[str, float]:
        m = super().layer_metrics(tracer, done)
        ops = tracer.ops
        plan = [inclusive_ms(op, "logstore.store.plan") for op in ops]
        m["logstore.store.plan_ms"] = stats.median(plan)
        m["logstore.store.plan_jobs"] = stats.mean(jobs_within(op, "logstore.store.plan") for op in ops)
        m["logstore.store.exec_ms"] = stats.median(
            op.spans[0].dur_ms - p for op, p in zip(ops, plan))
        for kind in sorted(set(READ_DECK)):
            m[f"logstore.store.{kind}_ms"] = stats.median(
                op.spans[0].dur_ms for op in ops if op.kind == kind)
        m["logstore.tile.reassemble_ms"] = stats.median(
            inclusive_ms(op, "logstore.tile.reassemble") for op in ops if op.kind == "combined")
        return m

    def run(self, req: dict):
        from bigdatatiler_spark.tables import event_ts

        kind = req["kind"]
        if kind == "cursor":
            with self.span("logstore.store.exec"):
                pages = list(self.events.cursor(user_id=req["user"], page_size=req["page"],
                                                max_pages=req["pages"]))
            return [r.asDict() for p in pages for r in p], [len(p) for p in pages]
        if kind == "point_read":
            df = self.events.point_read(req["user"], req["id"])
        elif kind == "combined":
            df = self.docs.combined(req["user"], req["id"])
        else:
            lo, hi = req["window"]
            df = self.events.scan(
                user_id=req["user"], event_type=req["type"],
                between=(event_ts(lo.isoformat(sep=" ")), event_ts(hi.isoformat(sep=" "))),
                limit=req["limit"], id_col="id",
            )
        with self.span("logstore.store.exec"):
            rows = df.collect()
        return [r.asDict() for r in rows], None

    def check(self, req: dict, out) -> bool:
        rows, page_sizes = out
        kind, con = req["kind"], self.con
        if kind == "combined":
            want = con.execute(
                "SELECT coalesce(parent_log_id, id) AS record_id, "
                "string_agg(chunk, '' ORDER BY split_index) AS payload, count(*) AS n_chunks, "
                "max(total_splits) AS total_splits FROM docs "
                "WHERE user_id = ? AND (id = ? OR parent_log_id = ?) GROUP BY 1",
                [req["user"], req["id"], req["id"]],
            )
            cols = [d[0] for d in want.description]
            want = want.fetchall()
            ok = len(rows) == 1 and hashlib.md5(rows[0]["payload"].encode()).hexdigest() == self.doc_md5[req["id"]]
            return ok and sorted(_norm(cols, want)) == sorted(
                _norm(list(rows[0]), [tuple(r.values()) for r in rows]))
        where, args = [], []
        if req.get("user") is not None:
            where.append("user_id = ?")
            args.append(req["user"])
        if kind == "point_read":
            where.append("id = ?")
            args.append(req["id"])
            tail = ""
        elif kind == "cursor":
            tail = f" ORDER BY ts DESC, id DESC LIMIT {req['page'] * req['pages']}"
        else:
            lo, hi = req["window"]
            where += ["event_type = ?", "epoch_us(ts) >= ?", "epoch_us(ts) < ?"]
            args += [req["type"], _epoch_us(lo), _epoch_us(hi)]
            tail = f" ORDER BY ts DESC, id DESC LIMIT {req['limit']}"
        res = con.execute(f"SELECT * FROM ev WHERE {' AND '.join(where)}{tail}", args)
        cols = [d[0] for d in res.description]
        want = _norm(cols, res.fetchall())
        got = _norm(cols, [tuple(r[c] for c in cols) for r in rows]) if rows else []
        if kind == "cursor":
            full = [s for s in page_sizes if s == req["page"]]
            if page_sizes[: len(full)] != full or len(page_sizes) - len(full) > 1:
                return False
        return got == want if kind != "point_read" else sorted(got) == sorted(want)


class LogstoreIngest(Workload):
    """Tile seeded batches of schedule-change XML logs under the byte cap
    and append each into a fresh ``LogStore``."""

    name = "logstore_ingest"
    # 50 docs (about 1.5 MB) per batch; a run appends whole cycles of the
    # eight batches, so every run ingests the same amount of work. All logs
    # of a batch belong to one user: the reference's AddLogDocuments
    # routes every document of a call to one partition key.
    DOCS_PER_BATCH, BATCHES, MEAN_BYTES, USERS = 50, 8, 34_000, 150

    def setup(self) -> None:
        self.batches, self.ids, self.md5, sizes = [], [], {}, []
        # the last batch is for the warm-up, outside the cycle: the first
        # batches of a session run up to three times as slow as later ones
        users = random.Random(self.seed).sample(range(self.USERS), self.BATCHES + 1)
        for b, user in enumerate(users):
            t = gen.log_batch(self.seed, b, self.DOCS_PER_BATCH, (user,), self.MEAN_BYTES)
            payloads = t.column("payload").to_pylist()
            sizes += [len(p) for p in payloads]
            self.ids.append(t.column("id").to_pylist())
            self.md5.update(zip(self.ids[-1], gen.md5_of(payloads)))
            path = os.path.join(self.work, f"batch{b}.parquet")
            pq.write_table(t, path)
            self.batches.append((path, sum(len(p.encode()) for p in payloads)))
        self.info.update(payload_size_histogram=gen.size_histogram(sizes[:-self.DOCS_PER_BATCH]),
                         docs_per_batch=self.DOCS_PER_BATCH,
                         batch_payload_mb=[round(b / 1e6, 3) for _, b in self.batches[:-1]])
        with self.step("warm_up"):
            start_python_workers(self.spark)
            self.run({"batch": self.BATCHES, "store": os.path.join(self.work, "warm_store")})

    def ops(self):
        i = 0
        while True:
            b = i % self.BATCHES
            yield {"batch": b, "store": os.path.join(self.work, f"store{i}"),
                   "last_of_pass": b == self.BATCHES - 1}
            i += 1

    def variant(self, op: dict, traced: bool) -> dict:
        return {**op, "store": op["store"] + ("-traced" if traced else "")}

    def trace_hooks(self, tracer) -> None:
        from bigdatatiler_spark.logstore import LogStore, tile

        super().trace_hooks(tracer)
        tracer.wrap(tile, "tile_bytecap", "logstore.tile.tile_bytecap")
        tracer.wrap(LogStore, "append", "logstore.store.append", returns_df=False)

    def layer_metrics(self, tracer, done) -> dict[str, float]:
        from pyspark.sql import functions as F

        from bigdatatiler_spark.logstore.codec import zip_payload

        m = super().layer_metrics(tracer, done)
        ops = tracer.ops
        m["logstore.tile.tile_bytecap_ms"] = stats.median(
            inclusive_ms(op, "logstore.tile.tile_bytecap") for op in ops)
        m["logstore.tile.jobs"] = stats.mean(jobs_within(op, "logstore.tile.tile_bytecap") for op in ops)
        m["logstore.store.append_ms"] = stats.median(
            inclusive_ms(op, "logstore.store.append") for op in ops)
        written = [op for op, _, out, _ in done if out is not None]
        m["logstore.tile.chunks_per_doc"] = sum(o["chunks"] for o in written) / sum(o["docs"] for o in written)
        m["logstore.store.append_files"] = stats.mean(o["files"] for o in written)
        m["logstore.store.append_bytes"] = stats.mean(o["bytes"] for o in written)
        payload = sum(self.payload_bytes(o) for o in written)
        m["ingest.store_bytes_per_payload_byte"] = sum(o["bytes"] for o in written) / payload
        untraced = [(op, lat) for op, lat, _, traced in done if not traced]
        m["ingest.mb_per_s"] = (sum(self.payload_bytes(o) for o, _ in untraced) / 1e6
                                / (sum(lat for _, lat in untraced) / 1000.0))
        # Zip-only pass over one batch. tile_bytecap runs its zip UDF inside
        # localCheckpoint jobs, which Spark records no SQL metrics for, so
        # the Python-eval node metrics are read from this pass instead.
        path, size = self.batches[0]
        src = self.spark.read.parquet(path)
        self.spark.sparkContext.setJobGroup("perfbench-codec", self.name)
        t0 = time.perf_counter()
        src.select(zip_payload(F.col("payload"), F.concat(F.col("id"), F.lit(".xml")))) \
            .write.format("noop").mode("overwrite").save()
        m["logstore.codec.zip_mb_per_s"] = size / 1e6 / (time.perf_counter() - t0)
        for key, value in tracer.group_sql_counts("perfbench-codec").items():
            if key.startswith("python."):
                m[key] = value
        return m

    def run(self, op: dict):
        """Tile one batch and append it as LogChange rows."""
        from bigdatatiler_spark.logstore import LogStore

        src = self.spark.read.parquet(self.batches[op["batch"]][0])
        LogStore(self.spark, op["store"]).append(tile_log_rows(src))
        return op

    def check_all(self, ops: list[dict], outs: list) -> list[bool]:
        """Read every written store back through the program's codec and
        reassembly, all stores in one pass: each record's md5 must match
        its source payload and its chunk count its ``total_splits``; each
        chunk's archive must unzip to the stored chunk and fit the cap (a
        chunk at the re-split floor may exceed it)."""
        from pyspark.sql import functions as F

        from bigdatatiler_spark.logstore.codec import unzip_payload
        from bigdatatiler_spark.logstore.tile import reassemble

        written = [op for op, out in zip(ops, outs) if out is not None]
        if not written:
            return [False] * len(ops)
        for op in written:
            op["files"], op["bytes"] = _dir_files(op["store"])
        if written:
            self.info["store_partitions"] = sum(
                d.startswith("user_id=") for d in os.listdir(written[0]["store"]))
        # recursive lookup: one scan over all store roots, no partition
        # inference; the store's name prefixes the ids so records of
        # different stores never merge
        store = F.regexp_extract(F.input_file_name(), r"/([^/]+)/user_id=[^/]*/[^/]*$", 1)
        df = self.spark.read.option("recursiveFileLookup", "true") \
            .parquet(*[op["store"] for op in written]).select(
                F.concat(store, F.lit("/"), F.col("id")).alias("id"),
                F.concat(store, F.lit("/"), F.col("parent_log_id")).alias("parent_log_id"),
                "split_index", "total_splits", "zip_bytes", "zipped_log", "chunk",
            ).withColumn("unzipped", unzip_payload(F.col("zipped_log")))
        bad_chunk = (
            F.col("unzipped").isNull()
            | (F.col("unzipped") != F.col("chunk"))
            | (F.length("zipped_log") != F.col("zip_bytes"))
            | ((F.col("zip_bytes") > CAP) & (F.length("chunk") > RESPLIT_FLOOR))
        )
        merged = reassemble(df, id_col="id", parent_col="parent_log_id",
                            extra_aggs={"bad": F.max(bad_chunk.cast("int"))}).select(
            "record_id", F.md5("payload").alias("md5"), "n_chunks",
            ((F.col("n_chunks") == F.col("total_splits")) & (F.col("bad") == 0)).alias("ok"),
        ).collect()
        got: dict[str, dict] = {}
        for r in merged:
            store, rec = r["record_id"].split("/", 1)
            got.setdefault(store, {})[rec] = (r["md5"], r["ok"], r["n_chunks"])
        results = []
        for op, out in zip(ops, outs):
            if out is None:
                results.append(False)
                continue
            want = self.ids[op["batch"]]
            recs = got.get(os.path.basename(op["store"]), {})
            op.update(chunks=sum(v[2] for v in recs.values()), docs=len(want))
            results.append(len(recs) == len(want) and all(
                recs.get(i, ())[:2] == (self.md5[i], True) for i in want))
        return results

    def payload_bytes(self, op: dict) -> int:
        return self.batches[op["batch"]][1]


class AnalyticsBatch(Workload):
    """A fixed list of registered queries, each run cold to completion at
    sf0.01 in list order; caches and checkpoint blocks are cleared between
    queries."""

    name = "analytics_batch"

    def setup(self) -> None:
        from bigdatatiler_spark.registry import load_all

        self.data = os.path.join(self.work, "data")
        with self.step("generate"):
            gen.write_tables(self.data, ANALYTICS_SF, ANALYTICS_DATA_SEED)
        self.specs = load_all()
        with self.step("warm_up"):
            self._warm()
        self.info.update(queries=len(ANALYTICS_QUERIES), sf=ANALYTICS_SF,
                         table_rows={t: pq.read_metadata(os.path.join(self.data, f"{t}.parquet")).num_rows
                                     for t in ("events", "lineitem", "documents", "embeddings")})

    def _warm(self) -> None:
        """Start the Python worker pool and compile the common operators
        before timing, as bench.py does."""
        start_python_workers(self.spark)
        self.specs["events_filtered_topk"].fn(self.spark, self.data).collect()
        self.clear()

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def ops(self):
        """Whole passes over the query list, always in list order."""
        while True:
            for i, q in enumerate(ANALYTICS_QUERIES):
                yield {"query": q, "last_of_pass": i == len(ANALYTICS_QUERIES) - 1}

    def run(self, op: dict):
        with self.span("registry.fn"):
            df = self.specs[op["query"]].fn(self.spark, self.data)
        with self.span("registry.action"):
            rows = df.collect()
        self.record_df(df)
        return list(df.columns), [tuple(r) for r in rows]

    def after_op(self) -> None:
        self.clear()

    def layer_metrics(self, tracer, done) -> dict[str, float]:
        m = super().layer_metrics(tracer, done)
        ops = tracer.ops
        m["registry.fn_ms"] = stats.median(inclusive_ms(op, "registry.fn") for op in ops)
        m["registry.fn_jobs"] = stats.mean(jobs_within(op, "registry.fn") for op in ops)
        m["registry.action_ms"] = stats.median(inclusive_ms(op, "registry.action") for op in ops)
        return m

    def check_all(self, ops: list[dict], outs: list) -> list[bool]:
        self.oracle = oracle_results(self.data, self.specs, self.cache)
        return super().check_all(ops, outs)

    def check(self, op: dict, out) -> bool:
        """Sorted column names, row count and value hash must equal the
        registry oracle's, as tools/check_oracle compares them."""
        from tools.check_oracle import table_hash

        cols, rows = out
        return [sorted(cols), *table_hash(cols, rows)] == self.oracle[op["query"]]


def oracle_results(data: str, specs, cache_dir: str) -> dict[str, list]:
    """(sorted column names, row count, hash) of each analytics query's
    DuckDB oracle over the generated tables, run and hashed as
    tools/check_oracle does. The tables do not depend on the run's seed,
    so the results are kept in ``cache_dir`` under a digest of the data
    files and the oracle SQL, and only a change to either recomputes
    them."""
    from bigdatatiler_spark.tables import TABLES
    from tools.check_oracle import table_hash

    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    for q in ANALYTICS_QUERIES:
        h.update(specs[q].oracle.encode())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    # single-threaded, as tools/check_oracle runs it: DuckDB's parallel
    # window operator is not deterministic on session windows
    con.execute("SET threads=1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for q in ANALYTICS_QUERIES:
        res = con.execute(specs[q].oracle)
        cols = [d[0] for d in res.description]
        out[q] = [sorted(cols), *table_hash(cols, res.fetchall())]
    con.close()
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


WORKLOADS = {w.name: w for w in (LogstoreReads, LogstoreIngest, AnalyticsBatch)}
