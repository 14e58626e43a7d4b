"""The three workloads: inputs, one step of work, and the result check.

Each workload object has

* ``stage(spark, dir)`` - write its seeded inputs and build its clients;
* ``warm()`` - work done once at the end of set-up, outside the
  timed loop;
* ``step()`` - one unit of closed-loop work, returning one record
  per operation: ``kind``, ``key``, ``ms`` and ``ok`` (False when the
  operation raised or answered wrongly on the spot);
* ``check()`` - compare every distinct result with an independent
  answer after the timed region, returning the keys that mismatched.

The program sees only the generated inputs; the seed stays here.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

from perfbench import datagen, workloads

SF = 0.01


def canonical(rows) -> list[tuple]:
    """Order-insensitive comparable form of result rows (the registry's
    oracle harness rule: floats rounded to 9 places, NaN and -0.0
    kept distinct)."""
    from tools.oracle_check import canonical as _canonical

    return _canonical([tuple(r) for r in rows], None)


def duck_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _record(kind, key, ms, ok, **extra) -> dict:
    return {"kind": kind, "key": key, "ms": ms, "ok": ok, **extra}


def _report_error(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}",
          file=sys.stderr)


class _Results:
    """First result seen per key; a later result that differs fails."""

    def __init__(self):
        self.first: dict = {}

    def agree(self, key, rows) -> bool:
        c = canonical(rows)
        return self.first.setdefault(key, c) == c


class Interactive:
    """Analyst session at sf0.01: closed loop, one client, each request
    waits for the previous reply."""

    def __init__(self, seed: int, tracer):
        self.seed, self.tracer = seed, tracer
        self.stream = workloads.interactive_requests(seed)
        self.n = 0  # requests run
        self.results = _Results()

    def stage(self, spark, d: str) -> None:
        import __spark_entry__ as entry
        from pandas_ai_spark.agent import Agent
        from pandas_ai_spark.agent.llm import FakeLLM
        from pandas_ai_spark.dataframe import DataFrame
        from pandas_ai_spark.sandbox import SubprocessSandbox
        from pandas_ai_spark.sql import SQLExecutor

        self.spark, self.data = spark, datagen.write_tables(d, self.seed, SF)
        self.queries = entry.queries()
        self.guard = SQLExecutor(spark)
        dfs = []
        for t in workloads.CHAT_TABLES:
            sdf = spark.read.parquet(f"{self.data}/{t}.parquet")
            self.guard.register(t, sdf)
            dfs.append(DataFrame(
                sdf, schema=DataFrame.get_default_schema(sdf, name=t)))
        self.agents = {
            "chat": Agent(dfs, llm=FakeLLM()),
            "chat_sandbox": Agent(dfs, llm=FakeLLM(),
                                  sandbox=SubprocessSandbox()),
        }

    def warm(self) -> None:
        """Nothing: a session's first requests are part of the session."""

    def _run(self, kind: str, key: str):
        """Run one request; returns result rows, or None for a refused
        unsafe query. Raises on anything else that goes wrong."""
        from pandas_ai_spark.agent.llm import FakeLLM
        from pandas_ai_spark.sql.sanitizer import MaliciousQueryError

        if kind in ("schema", "sql"):
            return self.queries[key](self.spark, self.data).collect()
        if kind == "unsafe":
            try:
                self.guard.execute(key)
            except MaliciousQueryError:
                return None
            raise AssertionError(f"unsafe SQL accepted: {key}")
        agent = self.agents[kind]
        agent.llm = FakeLLM(workloads.chat_code(key))
        resp = agent.chat("Answer the question with one SQL query.")
        if resp.type != "dataframe":
            raise AssertionError(f"chat answered {resp.type}: {resp.value}")
        self.last_llm_calls = agent.llm.call_count
        return list(resp.value.itertuples(index=False, name=None))

    def step(self) -> list[dict]:
        kind, key = next(self.stream)
        self.last_llm_calls = 0
        t0 = time.perf_counter()
        try:
            rows = self._run(kind, key)
            ok = True
        except Exception:
            _report_error(f"{kind} request {key[:60]!r}")
            rows, ok = None, False
        ms = (time.perf_counter() - t0) * 1000.0
        if ok and rows is not None:
            ok = self.results.agree(key, rows)
        self.n += 1
        # each request is a cycle of its own: blocks keep their mix
        # when cut off, so a run's last, partial block counts too
        return [_record(kind, key, ms, ok, cycle=self.n,
                        llm_calls=self.last_llm_calls, rows=len(rows or ()))]

    def check(self) -> set:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duck_views(self.data)
        bad = set()
        for key, got in self.results.first.items():
            sql = oracles.get(key, key)
            if canonical(con.execute(sql).fetchall()) != got:
                print(f"perfbench: result mismatch for {key[:60]!r}",
                      file=sys.stderr)
                bad.add(key)
        return bad


class Pipeline:
    """Batch run of the heavy operators at sf0.01: one after another,
    every pass clears the cache first."""

    def __init__(self, seed: int, tracer):
        self.seed, self.tracer = seed, tracer
        self.passes = workloads.pipeline_passes(seed)
        self.todo: list[str] = []
        self.n_passes = 0
        self.results = _Results()

    def stage(self, spark, d: str) -> None:
        import __spark_entry__ as entry

        self.spark, self.data = spark, datagen.write_tables(d, self.seed, SF)
        self.tiny = datagen.write_tables(d + "_tiny", self.seed, SF / 10)
        self.queries = entry.queries()

    def warm(self) -> None:
        """One pass over tenth-size inputs during set-up: code generation,
        JIT and Python-worker imports for every operator."""
        from pandas_ai_spark.functions.cache import release_operator_caches

        for key in workloads.PIPELINE_OPS:
            self.queries[key](self.spark, self.tiny).collect()
        self.spark.catalog.clearCache()
        release_operator_caches()

    def step(self) -> list[dict]:
        """The next operator; a pass clears the cache before its first."""
        from pandas_ai_spark.functions.cache import release_operator_caches

        if not self.todo:
            self.spark.catalog.clearCache()
            release_operator_caches()
            self.todo = next(self.passes)
            self.n_passes += 1
        key = self.todo.pop(0)
        t0 = time.perf_counter()
        rows, build = None, None
        try:
            with self.tracer.span("functions.build") as build:
                df = self.queries[key](self.spark, self.data)
            rows = df.collect()
            ok = True
        except Exception:
            _report_error(f"operator {key}")
            ok = False
        ms = (time.perf_counter() - t0) * 1000.0
        if ok:
            ok = self.results.agree(key, rows)
        return [_record("op", key, ms, ok, cycle=self.n_passes,
                        family=workloads.PIPELINE_OPS[key],
                        rows=len(rows or ()),
                        build_span=build.sid if build else None)]

    def check(self) -> set:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duck_views(self.data)
        bad = set()
        for key, got in self.results.first.items():
            if canonical(con.execute(oracles[key]).fetchall()) != got:
                print(f"perfbench: result mismatch for {key}",
                      file=sys.stderr)
                bad.add(key)
        return bad


class Ingest:
    """The write side: two streams into parquet sinks with checkpoints,
    fed one round at a time. Each round lands the next files in the
    source directories and drains them with an availableNow trigger from
    the same checkpoints, so the near-dup state and the window state grow
    across rounds, as in a scheduled incremental ingest."""

    BATCH_DOCS = 100          # one document batch per round
    ROUND_CHUNKS, CHUNK_EVENTS = 3, 4000
    MAX_ROUNDS = 40
    # same constants as the registry's streaming near-dup query
    NEAR_DUP = {"threshold": 0.12, "num_hashes": 64, "bands": 32}
    WATERMARK_H = 2

    def __init__(self, seed: int, tracer):
        self.seed, self.tracer = seed, tracer

    def stage(self, spark, d: str) -> None:
        """Generate every round's inputs in memory; a round writes its own
        files when it lands them (deleting files is slow on disks
        mounted with online discard, so none are written ahead)."""
        import numpy as np

        from pandas_ai_spark.streaming import StreamingNearDup

        self.spark, self.dir = spark, d
        for sub in ("docs_src", "events_src"):
            os.makedirs(os.path.join(d, sub), exist_ok=True)
        self.doc_batches = workloads.ingest_doc_batches(
            self.seed, self.MAX_ROUNDS, self.BATCH_DOCS)
        self.events = datagen.events_table(
            np.random.default_rng([self.seed, 7]),
            self.MAX_ROUNDS * self.ROUND_CHUNKS * self.CHUNK_EVENTS)
        self.fed = 0
        self.near_dup = StreamingNearDup(spark, **self.NEAR_DUP)

    def warm(self) -> None:
        """The first round, during set-up: stream start-up, state-store
        creation and code generation."""
        self.step()

    def _feed(self) -> None:
        """Land the next round's files in the stream sources, with rising
        modification times so each file is one micro-batch."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        r = self.fed
        if r >= self.MAX_ROUNDS:
            raise RuntimeError("ingest ran out of staged rounds")
        batch = self.doc_batches[r]
        files = [(os.path.join(self.dir, "docs_src", f"docs_{r:03d}.parquet"),
                  pa.table({"doc_id": pa.array([b[0] for b in batch],
                                               pa.int64()),
                            "text": [b[1] for b in batch]}))]
        for j in range(self.ROUND_CHUNKS):
            i = r * self.ROUND_CHUNKS + j
            files.append((
                os.path.join(self.dir, "events_src", f"events_{i:03d}.parquet"),
                self.events.slice(i * self.CHUNK_EVENTS, self.CHUNK_EVENTS)))
        now = time.time()
        for k, (path, table) in enumerate(files):
            pq.write_table(table, path)
            os.utime(path, (now + k, now + k))
        self.fed += 1

    def _drain_docs(self) -> list:
        stream = (self.spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(self.dir, "docs_src")))
        before = self.near_dup.admitted_rows
        q = self.near_dup.attach(stream, os.path.join(self.dir, "docs_out"),
                                 os.path.join(self.dir, "docs_ckpt"))
        q.awaitTermination()
        return _batches("docs", q.recentProgress,
                        self.near_dup.admitted_rows - before)

    def _drain_events(self) -> list:
        from pyspark.sql import functions as F

        from pandas_ai_spark.streaming import StreamCompiler, windowed_agg

        sc = StreamCompiler(self.spark)
        stream = sc.read_stream(os.path.join(self.dir, "events_src"),
                                options={"maxFilesPerTrigger": 1})
        agg = windowed_agg(
            stream, "ts", "1 hour",
            {"n": F.count("*"), "total_value": F.round(F.sum("value"), 2)},
            keys=["event_type"], watermark=f"{self.WATERMARK_H} hours")
        q = StreamCompiler.write_stream(
            agg, os.path.join(self.dir, "events_out"),
            os.path.join(self.dir, "events_ckpt"),
            trigger={"availableNow": True})
        q.awaitTermination()
        return _batches("events", q.recentProgress, None)

    def step(self) -> list[dict]:
        self._feed()
        try:
            with self.tracer.span("streaming.docs"):
                recs = self._drain_docs()
            with self.tracer.span("streaming.events"):
                recs += self._drain_events()
        except Exception:
            _report_error("ingest round")
            recs = [_record("batch", "round", 0.0, False)]
        for r in recs:
            r["cycle"] = self.fed
        return recs

    def check(self) -> set:
        """The admitted documents must be the batch near-dup survivors of
        everything fed, and the emitted windows the DuckDB aggregate of
        every event fed whose window closed below the final watermark."""
        import duckdb
        from pyspark.sql import functions as F

        from pandas_ai_spark.functions import dedup

        rows = [r for b in self.doc_batches[:self.fed] for r in b]
        docs = self.spark.createDataFrame(rows, "doc_id long, text string")
        expect_docs = sorted(
            r.doc_id for r in dedup.minhash_dedup(docs, **self.NEAR_DUP)
            .select("doc_id").collect())
        got_docs = sorted(
            r.doc_id for r in self.spark.read.parquet(
                os.path.join(self.dir, "docs_out")).select("doc_id")
            .collect())
        src = os.path.join(self.dir, "events_src")
        expect_ev = canonical(duckdb.connect().execute(f"""
            WITH ev AS (SELECT * FROM read_parquet('{src}/*.parquet')),
            w AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
                         event_type, count(*) AS n,
                         round(sum(value), 2) AS total_value
                  FROM ev GROUP BY ALL)
            SELECT epoch_us(ws), event_type, n, total_value FROM w
            WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM ev)
                  - INTERVAL {self.WATERMARK_H} HOUR
        """).fetchall())
        got_ev = canonical(self.spark.read.parquet(
            os.path.join(self.dir, "events_out")).select(
            F.unix_micros("window_start"), "event_type", "n",
            "total_value").collect())
        if got_docs == expect_docs and got_ev == expect_ev:
            return set()
        print(f"perfbench: ingest mismatch: admitted {len(got_docs)} vs "
              f"{len(expect_docs)} docs, {len(got_ev)} vs {len(expect_ev)} "
              f"windows", file=sys.stderr)
        return {"round"}


def _batches(stream: str, progress, admitted) -> list[dict]:
    """One record per data-carrying micro-batch of a drain."""
    busy = [p for p in progress if int(p.get("numInputRows") or 0) > 0]
    recs = []
    for p in busy:
        d = p.get("durationMs") or {}
        states = p.get("stateOperators") or []
        sink = (p.get("sink") or {}).get("numOutputRows", -1)
        recs.append(_record(
            "batch", "round", float(d.get("triggerExecution") or 0.0), True,
            stream=stream, rows=int(p.get("numInputRows") or 0),
            add_batch_ms=float(d.get("addBatch") or 0.0),
            planning_ms=float(d.get("queryPlanning") or 0.0),
            commit_ms=float(d.get("walCommit") or 0.0)
            + float(d.get("commitOffsets") or 0.0),
            state_rows=sum(int(s.get("numRowsTotal") or 0) for s in states),
            state_mem_bytes=sum(int(s.get("memoryUsedBytes") or 0)
                                for s in states),
            sink_rows=(admitted / max(len(busy), 1) if admitted is not None
                       else max(int(sink), 0))))
    return recs


WORKLOADS = {"interactive": Interactive, "pipeline": Pipeline,
             "ingest": Ingest}
