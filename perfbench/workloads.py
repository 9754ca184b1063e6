"""The three benchmark workloads.

Each workload has the same shape:

- ``prepare(spark)``: the workload's share of set-up (timed as part of
  ``setup_s`` and reported per layer as ``prepare_metric``), e.g. the TWS
  runtime or the IVF index;
- ``job(spark, i, span)``: one timed operation; returns an outcome dict
  with its ``job_s`` and whatever the check needs;
- ``check(spark, outcome)``: correctness problems (empty list when
  correct), run outside the timed region;
- ``layers(spark, tracer, outcome)``: per-layer metrics of a traced job,
  every declared metric under ``layers_prefixes`` (the layers the workload
  calls);
- ``clean(spark, outcome)``: removes the outcome's files and views.

``span(name)`` is a context manager; untraced runs pass a no-op one. Spans
sit around calls into the package's public functions only.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from contextlib import contextmanager
from pathlib import Path

import spans as tr

TABLES = ("songs", "artists", "users", "time", "songplays")
CURATION_QUERIES = (
    "q_corpus_pipeline",
    "q_curation_pipeline",
    "q_minhash_dedup_survivors",
    "q_semantic_dedup",
)
_MB = 1024 * 1024


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def _rows(df) -> tuple[list, list]:
    return [tuple(r) for r in df.collect()], df.columns


def _value_hash(rows: list, cols: list) -> str:
    from udacity_data_engineering_spark.testing import row_multiset

    ms = row_multiset(rows, cols)
    return hashlib.sha256(repr(sorted(ms.items())).encode()).hexdigest()


def _disk(path: Path) -> tuple[int, int, float]:
    """(data files, partition directories, MB) under a written table."""
    files = parts = size = 0
    for dirpath, _, names in os.walk(path):
        if "=" in os.path.basename(dirpath) and any(n.endswith(".parquet") for n in names):
            parts += 1
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, parts, size / _MB


@contextmanager
def _spans_around(module, names: dict[str, str], span):
    """For the block, run each named module-level function of ``module``
    (key: attribute, value: span name) inside a span, so the calls the
    package makes through its own module globals are traced. The span
    record keeps the call's return value under ``result``."""
    saved = {attr: getattr(module, attr) for attr in names}

    def wrap(name, fn):
        def inner(*args, **kwargs):
            with span(name) as rec:
                rec["result"] = fn(*args, **kwargs)
                return rec["result"]

        return inner

    for attr, fn in saved.items():
        setattr(module, attr, wrap(names[attr], fn))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


# --------------------------------------------------------------------------


class SparkifyEtl:
    name = "sparkify_etl"
    prepare_metric = None
    layers_prefixes = ("sources.", "etl.")

    def __init__(self, inputs: dict, work: Path):
        self.inputs = inputs
        self.work = work
        self._oracle = None

    def prepare(self, spark) -> None:
        from udacity_data_engineering_spark.etl import sparkify  # noqa: F401  (import cost)

    def job(self, spark, i: int, span) -> dict:
        from udacity_data_engineering_spark.etl import sparkify

        out = self.work / f"etl_out_{i}"
        with span("etl.run"):
            counts, job_s = _timed(
                sparkify.run, spark, self.inputs["song_glob"], self.inputs["log_glob"], str(out)
            )
        with span("etl.readback"):
            readback, readback_s = _timed(self._readback, spark, out)
        return {"out": out, "counts": counts, "readback": readback,
                "job_s": job_s, "readback_s": readback_s}

    @staticmethod
    def _readback(spark, out: Path) -> dict:
        """Fixed consumer queries over the written star schema: one
        partition-pruned month of songplays, and songplays joined to
        users and songs."""
        from pyspark.sql import functions as F

        sp = spark.read.parquet(str(out / "songplays"))
        month = sp.filter((F.col("year") == 2018) & (F.col("month") == 11)).agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("users")
        ).first()
        users = spark.read.parquet(str(out / "users")).select(
            "user_id", F.col("level").alias("user_level")
        )
        songs = spark.read.parquet(str(out / "songs")).select(
            "song_id", F.col("year").alias("song_year")
        )
        joined = (
            sp.join(users, "user_id").join(songs, "song_id")
            .groupBy("user_level").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        return {"month_rows": month["n"], "month_users": month["users"],
                "joined": {r["user_level"]: r["n"] for r in joined}}

    def _oracle_rows(self) -> tuple[list, list]:
        """The songplays fact computed by DuckDB straight from the JSON."""
        if self._oracle is None:
            from udacity_data_engineering_spark.sources.json_source import (
                LOG_COLS_DUCK,
                SONG_COLS_DUCK,
            )

            sql = f"""
                WITH ld AS (
                    SELECT * FROM read_json('{self.inputs["log_glob"]}',
                        columns={LOG_COLS_DUCK}, format='newline_delimited',
                        ignore_errors=true)
                    WHERE page = 'NextSong'),
                sd AS (
                    SELECT * FROM read_json('{self.inputs["song_glob"]}',
                        columns={SONG_COLS_DUCK}))
                SELECT ld.ts AS ts_ms,
                       CAST(year(make_timestamp(ld.ts * 1000)) AS INT) AS year,
                       CAST(month(make_timestamp(ld.ts * 1000)) AS INT) AS month,
                       ld.userId AS user_id, ld.level, sd.song_id, sd.artist_id,
                       ld.sessionId AS session_id, ld.location,
                       ld.userAgent AS user_agent
                FROM ld JOIN sd
                  ON ld.song = sd.title AND ld.length = sd.duration
                 AND ld.artist = sd.artist_name
            """
            import duckdb  # only the checks need it; keeps it out of the job's memory

            con = duckdb.connect()
            try:
                rel = con.sql(sql)
                self._oracle = (rel.fetchall(), rel.columns)
            finally:
                con.close()
        return self._oracle

    def check(self, spark, outcome: dict) -> list[str]:
        from pyspark.sql import functions as F

        from udacity_data_engineering_spark.testing import compare

        problems = [
            f"{t}: {outcome['counts'].get(t)} rows, expected {n}"
            for t, n in self.inputs["expected"].items()
            if outcome["counts"].get(t) != n
        ]
        rows, cols = _rows(
            spark.read.parquet(str(outcome["out"] / "songplays")).select(
                F.unix_millis("start_time").alias("ts_ms"), "year", "month", "user_id",
                "level", "song_id", "artist_id", "session_id", "location", "user_agent",
            )
        )
        o_rows, o_cols = self._oracle_rows()
        problems += [f"songplays: {p}" for p in compare(rows, cols, o_rows, o_cols)]
        rb = outcome["readback"]
        ci = {c: i for i, c in enumerate(o_cols)}
        in_month = [r for r in o_rows if (r[ci["year"]], r[ci["month"]]) == (2018, 11)]
        if rb["month_rows"] != len(in_month):
            problems.append(f"readback month: {rb['month_rows']} rows, expected {len(in_month)}")
        if rb["month_users"] != len({r[ci["user_id"]] for r in in_month}):
            problems.append("readback month: distinct users differ from the oracle")
        if sum(rb["joined"].values()) != sum(1 for r in o_rows if r[ci["user_id"]]):
            problems.append("readback join: row count differs from the oracle")
        return problems

    def layers(self, spark, tracer: tr.Tracer, outcome: dict) -> dict:
        m: dict[str, float] = {
            "sources.read_song_data_s": tracer.seconds("sources.read_song_data"),
            "sources.read_log_data_s": tracer.seconds("sources.read_log_data"),
            "etl.process_song_data_s": tracer.seconds("etl.process_song_data"),
            "etl.process_log_data_s": tracer.seconds("etl.process_log_data"),
            "etl.smoke_s": tracer.find("etl.run")["end"] - tracer.find("etl.process_log_data")["end"],
            "etl.readback_s": outcome["readback_s"],
        }
        sc = spark.sparkContext
        song_df = tracer.find("sources.read_song_data")["result"]
        m["sources.song_files"] = float(len(song_df.inputFiles()))
        m["sources.log_infer_input_mb"] = tr.job_counters(
            sc, tracer.job_ids("sources.read_log_data")
        )["input_mb"]
        c = tr.job_counters(sc, tracer.job_ids("etl.run"))
        for k in ("shuffle_write_mb", "spill_mb", "tasks", "executor_cpu_s", "gc_s", "failed_tasks"):
            m[f"etl.{k}"] = float(c[k])
        write_ms = {t: 0.0 for t in TABLES}
        for e in tr.sql_executions(spark, tracer.groups("etl.run"), outcome["sql_window"]):
            hit = re.search(
                r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: (\S+?),", e["plan"]
            )
            if hit and os.path.basename(hit.group(1)) in write_ms:
                write_ms[os.path.basename(hit.group(1))] += e["ms"]
        total_files = total_mb = 0.0
        for t in TABLES:
            files, parts, mb = _disk(outcome["out"] / t)
            m[f"etl.{t}.write_ms"] = write_ms[t]
            m[f"etl.{t}.files"] = float(files)
            m[f"etl.{t}.partitions"] = float(parts)
            m[f"etl.{t}.output_mb"] = mb
            total_files += files
            total_mb += mb
        m["etl.output_files"] = total_files
        m["etl.output_mb"] = total_mb
        m["etl.readback_files_read"] = sum(
            e["metrics"].get("number of files read", 0.0)
            for e in tr.sql_executions(spark, tracer.groups("etl.readback"), outcome["sql_window"])
        )
        return m

    def traced_job(self, spark, i: int, tracer: tr.Tracer) -> dict:
        """The same job with spans around the sources and etl calls that
        ``sparkify.run`` makes through its module globals."""
        from udacity_data_engineering_spark.etl import sparkify

        start = tr.executions_count(spark)
        names = {
            "read_song_data": "sources.read_song_data",
            "read_log_data": "sources.read_log_data",
            "process_song_data": "etl.process_song_data",
            "process_log_data": "etl.process_log_data",
        }
        with _spans_around(sparkify, names, tracer.span):
            outcome = self.job(spark, i, tracer.span)
        return {**outcome, "sql_window": (start, tr.executions_count(spark))}

    def clean(self, spark, outcome: dict) -> None:
        shutil.rmtree(outcome["out"], ignore_errors=True)
        for view in ("log_data", "song_data"):  # registered by build_songplays
            spark.catalog.dropTempView(view)


# --------------------------------------------------------------------------


class Curation:
    name = "curation"
    prepare_metric = "operators.ivf_index_s"
    layers_prefixes = ("operators.",)

    def __init__(self, inputs: dict, work: Path):
        self.inputs = inputs
        self.work = work
        self._oracles: dict = {}
        self._repeat: dict = {}

    def prepare(self, spark) -> None:
        from udacity_data_engineering_spark.operators.ann import cached_ivf_index
        from udacity_data_engineering_spark.plans.registry import all_queries
        from udacity_data_engineering_spark.session import table

        assigned, _ = cached_ivf_index(
            spark, self.inputs["dir"], table(spark, self.inputs["dir"], "embeddings")
        )
        assigned.count()  # materialize the cached assignment, as a first query would
        self.queries = all_queries()  # imports every operator module once

    def job(self, spark, i: int, span) -> dict:
        queries = self.queries
        frames, times = {}, {}
        t0 = time.perf_counter()
        for q in CURATION_QUERIES:
            with span(f"operators.{q}.build"):
                frames[q], build_s = _timed(queries[q].fn, spark, self.inputs["dir"])
            if span is not NO_SPAN:  # traced: read the planning phases
                with span(f"operators.{q}.plan"):
                    times[f"{q}.plan_ms"] = tr.plan_ms(frames[q])
            with span(f"operators.{q}.action"):
                _, action_s = _timed(
                    frames[q].write.format("noop").mode("overwrite").save
                )
            times[f"{q}.build_s"], times[f"{q}.action_s"] = build_s, action_s
        return {"frames": frames, "times": times, "job_s": time.perf_counter() - t0}

    def _oracle(self, q: str) -> tuple[list, list]:
        if q not in self._oracles:
            import duckdb

            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings"):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.inputs['dir']}/{t}.parquet')"
                    )
                rel = con.sql(self.queries[q].oracle)
                self._oracles[q] = (rel.fetchall(), rel.columns)
            finally:
                con.close()
        return self._oracles[q]

    def check(self, spark, outcome: dict) -> list[str]:
        from udacity_data_engineering_spark.testing import compare

        problems = []
        for q, df in outcome["frames"].items():
            rows, cols = _rows(df)
            if q in ("q_corpus_pipeline", "q_curation_pipeline"):
                o_rows, o_cols = self._oracle(q)
                problems += [f"{q}: {p}" for p in compare(rows, cols, o_rows, o_cols)]
            else:
                # no oracle: the result must repeat exactly for the same input
                sig = (len(rows), _value_hash(rows, cols))
                ref = self._repeat.setdefault(q, sig)
                if sig != ref:
                    problems.append(f"{q}: {sig} differs from the first run's {ref}")
                if not rows:
                    problems.append(f"{q}: empty result")
        return problems

    def traced_job(self, spark, i: int, tracer: tr.Tracer) -> dict:
        start = tr.executions_count(spark)
        outcome = self.job(spark, i, tracer.span)
        return {**outcome, "sql_window": (start, tr.executions_count(spark))}

    def layers(self, spark, tracer: tr.Tracer, outcome: dict) -> dict:
        sc = spark.sparkContext
        m: dict[str, float] = {}
        failed = 0.0
        for q in CURATION_QUERIES:
            groups = tracer.groups(f"operators.{q}.build") | tracer.groups(f"operators.{q}.action")
            jobs = sorted(j for g in groups for j in sc.statusTracker().getJobIdsForGroup(g))
            c = tr.job_counters(sc, jobs)
            python_mb = sum(
                e["metrics"].get("data sent to Python workers", 0.0)
                for e in tr.sql_executions(spark, groups, outcome["sql_window"])
            ) / _MB
            t = outcome["times"]
            m.update({
                f"operators.{q}.build_s": t[f"{q}.build_s"],
                f"operators.{q}.action_s": t[f"{q}.action_s"],
                f"operators.{q}.plan_ms": t[f"{q}.plan_ms"],
                f"operators.{q}.jobs": float(c["jobs"]),
                f"operators.{q}.tasks": float(c["tasks"]),
                f"operators.{q}.shuffle_write_mb": c["shuffle_write_mb"],
                f"operators.{q}.spill_mb": c["spill_mb"],
                f"operators.{q}.python_mb": python_mb,
                f"operators.{q}.executor_cpu_s": c["executor_cpu_s"],
            })
            failed += c["failed_tasks"]
        # useful work of the LSH stage: planted duplicate pairs found per
        # candidate pair (outside the timed job)
        cands = self.queries["q_minhash_candidates"].fn(spark, self.inputs["dir"])
        pairs = {(r["doc_a"], r["doc_b"]) for r in cands.select("doc_a", "doc_b").collect()}
        planted = {(min(a, b), max(a, b)) for a, b in self.inputs["planted_pairs"]}
        m["operators.minhash.candidate_pairs"] = float(len(pairs))
        m["operators.minhash.useful_ratio"] = len(pairs & planted) / len(pairs) if pairs else 0.0
        m["operators.failed_tasks"] = failed
        return m

    def clean(self, spark, outcome: dict) -> None:
        outcome["frames"].clear()


# --------------------------------------------------------------------------


class StreamReplay:
    name = "stream_replay"
    prepare_metric = "streaming.tws_runtime_s"
    layers_prefixes = ("streaming.",)

    def __init__(self, inputs: dict, work: Path):
        self.inputs = inputs
        self.work = work
        self._oracle = None

    def prepare(self, spark) -> None:
        from udacity_data_engineering_spark.streaming.stateful import ensure_tws_runtime

        if not ensure_tws_runtime(spark):
            raise RuntimeError("transformWithStateInPandas runtime (google.protobuf) unavailable")

    def job(self, spark, i: int, span) -> dict:
        from udacity_data_engineering_spark.streaming import event_stream
        from udacity_data_engineering_spark.streaming.stateful import (
            rocksdb_state_scope,
            running_user_totals_tws,
        )

        ckpt = self.work / f"ckpt_{i}"
        sink = f"perfbench_totals_{i}"
        outcome = {"ckpt": ckpt, "sink": sink}
        t0 = time.perf_counter()
        with rocksdb_state_scope(spark):
            with span("streaming.stream_events"):
                events = event_stream.stream_events(
                    spark, self.inputs["dir"], max_files_per_trigger=1
                )
            with span("streaming.running_user_totals_tws"):
                totals = running_user_totals_tws(events)
            with span("streaming.run_available_now"):
                event_stream.run_available_now(totals, sink, str(ckpt), output_mode="update")
        outcome["job_s"] = time.perf_counter() - t0
        q = event_stream.LAST_QUERY
        outcome["progress"] = [json.loads(p.json()) for p in q._jsq.recentProgress()]
        outcome["batch_s"] = [p["durationMs"]["triggerExecution"] / 1e3 for p in outcome["progress"]]
        return outcome

    def _oracle_rows(self) -> tuple[list, list]:
        if self._oracle is None:
            import duckdb

            con = duckdb.connect()
            try:
                rel = con.sql(
                    f"""SELECT user_id, count(*) AS n_events,
                               round(sum(value), 2) AS sum_value
                        FROM read_parquet('{self.inputs["dir"]}/*.parquet')
                        GROUP BY user_id"""
                )
                self._oracle = (rel.fetchall(), rel.columns)
            finally:
                con.close()
        return self._oracle

    def check(self, spark, outcome: dict) -> list[str]:
        from pyspark.sql import functions as F

        from udacity_data_engineering_spark.testing import compare

        final = spark.table(outcome["sink"]).groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
        rows, cols = _rows(final)
        o_rows, o_cols = self._oracle_rows()
        problems = [f"totals: {p}" for p in compare(rows, cols, o_rows, o_cols)]
        if len(outcome["progress"]) < self.inputs["files"]:
            problems.append(
                f"{len(outcome['progress'])} micro-batches for {self.inputs['files']} files"
            )
        return problems

    def traced_job(self, spark, i: int, tracer: tr.Tracer) -> dict:
        start = tr.executions_count(spark)
        outcome = self.job(spark, i, tracer.span)
        return {**outcome, "sql_window": (start, tr.executions_count(spark))}

    def layers(self, spark, tracer: tr.Tracer, outcome: dict) -> dict:
        # micro-batches run on the stream's own thread and job group, so
        # take every SQL execution of the traced job's window
        execs = tr.sql_executions(spark, None, outcome["sql_window"])
        jobs = sorted({j for e in execs for j in e["jobs"]})
        c = tr.job_counters(spark.sparkContext, jobs)
        m = {f"streaming.{k}": float(v) for k, v in tr.progress_medians(outcome["progress"]).items()}
        m["streaming.shuffle_write_mb"] = c["shuffle_write_mb"]
        m["streaming.python_mb"] = sum(
            e["metrics"].get("data sent to Python workers", 0.0) for e in execs
        ) / _MB
        m["streaming.failed_tasks"] = float(c["failed_tasks"])
        return m

    def clean(self, spark, outcome: dict) -> None:
        for q in spark.streams.active:
            q.stop()
        spark.catalog.dropTempView(outcome["sink"])
        shutil.rmtree(outcome["ckpt"], ignore_errors=True)


@contextmanager
def NO_SPAN(name: str):
    yield None


def batch_tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that leaves at least
    ten samples above it; the maximum when there are ten or fewer."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    k = n - 11  # index with exactly 10 samples beyond it
    return xs[k], 100.0 * (k + 1) / n


WORKLOADS = {w.name: w for w in (SparkifyEtl, Curation, StreamReplay)}
