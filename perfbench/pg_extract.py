"""Workload ``pg_extract``: the paper's own job, PostgreSQL → Arrow → file.

A throwaway PostgreSQL 15 (``scripts/pg_harness.local_postgres``) is
seeded with a table of BASELINE.md's ten-column schema (int4, int8,
float8, float4, text, bytea, date, timestamp, timestamptz, time).  The
values and a small NULL share come from ``--seed``.  Each pass runs
two ops through flaco_spark's public API:

- ``to_parquet``: ``read_sql_to_file`` with its defaults (one file
  through the driver's Arrow funnel);
- ``partitioned_to_parquet``: ``read_sql`` range-partitioned on
  ``c_int4`` into ``nproc`` parts, then
  ``write_dataframe_to_file(single_file=False)`` (Spark's distributed
  Parquet writer).

``read_sql_to_pyarrow`` and the Feather output are not ops of their
own: they run ``to_parquet``'s ``read_sql`` and ``toArrow`` and differ
only in the last step (none, or a Feather write of a few milliseconds),
so they would repeat its work at the cost of the run's time budget.
Every output is read back and its digest (``harness.arrow_digest``)
compared with the one the server computes for the same query.
"""

from __future__ import annotations

import contextlib
import os
import random
import subprocess
import tempfile
import time
from decimal import Decimal

from perfbench import harness

ROWS = 50_000
STMT = "SELECT * FROM bench_wide"
OPS = ["to_parquet", "partitioned_to_parquet"]
NULL_SHARE = 0.02
# warm-up rounds before timing: the partitioned op speeds up over its
# first few runs, the single-file op after its first
WARM_ROUNDS = 2
TIMED_ACTION = "read_sql_to_file / partitioned read_sql + write; output read back untimed"

COLUMNS = ("c_int4", "c_int8", "c_float8", "c_float4", "c_text", "c_bytea",
           "c_date", "c_ts", "c_tstz", "c_time")


def seed_sql(seed: int, rows: int = ROWS, table: str = "bench_wide") -> str:
    """Seeded CREATE TABLE for the ten-column schema.  ``c_int4`` is the
    row number (the partition column); the other columns are drawn from
    PostgreSQL's ``random()`` after ``setseed``, with ~2% NULLs each."""

    def maybe_null(expr: str) -> str:
        return f"CASE WHEN random() < {NULL_SHARE} THEN NULL ELSE {expr} END"

    cols = [
        "g::int4 AS c_int4",
        maybe_null("(random() * 2e12 - 1e12)::int8") + " AS c_int8",
        maybe_null("(random() * 2e6 - 1e6)::float8") + " AS c_float8",
        maybe_null("(random() * 1000)::float4") + " AS c_float4",
        maybe_null("'row-' || g || '-' || left(md5(random()::text), 4 + (random() * 28)::int)")
        + " AS c_text",
        maybe_null("decode(left(md5(random()::text), 2 * (1 + (random() * 15)::int)), 'hex')")
        + " AS c_bytea",
        maybe_null("DATE '2000-01-01' + (random() * 10000)::int") + " AS c_date",
        maybe_null("TIMESTAMP '2000-01-01' + random() * INTERVAL '9000 days'") + " AS c_ts",
        maybe_null("TIMESTAMPTZ '2000-01-01 00:00:00+00' + random() * INTERVAL '9000 days'")
        + " AS c_tstz",
        maybe_null("TIME '00:00' + random() * INTERVAL '86399 seconds'") + " AS c_time",
    ]
    # setseed takes a value in [-1, 1]
    s = (seed % 1_000_003) / 1_000_003
    return (
        f"SELECT setseed({s});\n"
        f"CREATE TABLE {table} AS SELECT\n  " + ",\n  ".join(cols)
        + f"\nFROM generate_series(1, {rows}) g;\n"
        f"ANALYZE {table};"
    )


def _micros(expr: str) -> str:
    return f"(extract(epoch FROM {expr}) * 1000000)::int8"


SERVER_DIGEST_SQL = "SELECT " + ", ".join(
    ["count(*)"]
    + [f"count(*) - count({c})" for c in COLUMNS]
    + ["sum(c_int4)", "sum(c_int8)", f"sum({_micros('c_time')})",
       "min(c_float8)", "max(c_float8)", "min(c_float4)::float8", "max(c_float4)::float8",
       "sum(octet_length(c_text))", 'min(c_text COLLATE "C")', 'max(c_text COLLATE "C")',
       "sum(octet_length(c_bytea))", "min(encode(c_bytea, 'hex') COLLATE \"C\")", "max(encode(c_bytea, 'hex') COLLATE \"C\")",
       "min(c_date) - DATE '1970-01-01'", "max(c_date) - DATE '1970-01-01'",
       _micros("min(c_ts)"), _micros("max(c_ts)"), _micros("min(c_tstz)"), _micros("max(c_tstz)")]
) + " FROM ({stmt}) q"


def server_digest(port: int, stmt: str = STMT) -> dict:
    """The digest of ``stmt``'s result as the server computes it, in
    :func:`harness.arrow_digest`'s form (c_time arrives from Spark as
    microseconds since midnight, so it is summed as an integer)."""
    from scripts.pg_harness import psql

    out = psql(port, "SET extra_float_digits = 3; " + SERVER_DIGEST_SQL.format(stmt=stmt))
    v = out.splitlines()[-1].split("|")
    d: dict = {"rows": int(v[0])}
    for i, c in enumerate(COLUMNS):
        d[f"nulls.{c}"] = int(v[1 + i])
    (s4, s8, stime, f8lo, f8hi, f4lo, f4hi, tlen, tlo, thi, blen, blo, bhi,
     dlo, dhi, tslo, tshi, tzlo, tzhi) = v[11:]
    d.update({
        "sum.c_int4": int(s4), "sum.c_int8": int(s8), "sum.c_time": int(Decimal(stime)),
        "min.c_float8": float(f8lo), "max.c_float8": float(f8hi),
        "min.c_float4": float(f4lo), "max.c_float4": float(f4hi),
        "len.c_text": int(tlen), "min.c_text": tlo, "max.c_text": thi,
        "len.c_bytea": int(blen), "min.c_bytea": blo, "max.c_bytea": bhi,
        "min.c_date": int(dlo), "max.c_date": int(dhi),
        "min.c_ts": int(tslo), "max.c_ts": int(tshi),
        "min.c_tstz": int(tzlo), "max.c_tstz": int(tzhi),
    })
    return d


class PgExtract:
    """Set-up, ops and checks of one ``pg_extract`` run."""

    def __init__(self, spark, port: int, out_dir: str, tracer: harness.Tracer) -> None:
        self.spark = spark
        self.port = port
        self.uri = f"postgresql://postgres@127.0.0.1:{port}/postgres"
        self.out_dir = out_dir
        self.tracer = tracer
        self.want = server_digest(port)
        self.failures: list[str] = []
        self.bytes_written = 0

    def run_op(self, op: str, op_id: str) -> int:
        """One timed op; returns rows delivered."""
        from flaco_spark import core

        path = self._path(op, op_id)
        with self.tracer.span(f"op.{op}", op_id):
            if op == "to_parquet":
                core.read_sql_to_file(self.uri, STMT, path, spark=self.spark)
            elif op == "partitioned_to_parquet":
                df = core.read_sql(self.uri, STMT, spark=self.spark, partition_column="c_int4",
                                   num_partitions=harness.nproc())
                core.write_dataframe_to_file(df, path, single_file=False)
            else:
                raise ValueError(op)
        return self.want["rows"]

    def _path(self, op: str, op_id: str) -> str:
        """A single file for ``to_parquet``, a part directory otherwise."""
        name = op_id.replace(":", "_")
        return os.path.join(self.out_dir, name + (".parquet" if op == "to_parquet" else ""))

    def layer_spans(self):
        """Span shims for a traced run: the calls the ops make inside
        flaco_spark (``read_sql``, ``DataFrame.toArrow``, pyarrow's and
        Spark's Parquet writers) each record a span, so the layers are
        timed on the library's own path."""
        import pyarrow.parquet as pq

        from flaco_spark import core

        df = self.spark.range(0)
        return harness.span_shims(self.tracer, [
            (core, "read_sql", "core.read_sql"),
            (type(df), "toArrow", "core.to_arrow"),
            (pq, "write_table", "sink.parquet_write"),
            (type(df.write), "parquet", "sink.parquet_write"),
        ])

    def check(self, op: str, op_id: str) -> None:
        """Read back the output of the op just run and compare digests."""
        import pyarrow.parquet as pq

        path = self._path(op, op_id)
        if os.path.isdir(path):
            files = [os.path.join(path, n) for n in os.listdir(path)]
        else:
            files = [path]
        if self.tracer.enabled:
            self.bytes_written += sum(os.path.getsize(f) for f in files)
        table = pq.read_table(path)
        for f in files:
            os.remove(f)
        if os.path.isdir(path):
            os.rmdir(path)
        bad = harness.digest_mismatch(harness.arrow_digest(table), self.want)
        if bad:
            self.failures.append(f"{op_id}: {bad}")

    def transport_used(self) -> str:
        """The transport ``read_sql``'s ``via="auto"`` picked, read off
        the plan's scan node."""
        from flaco_spark import core

        df = core.read_sql(self.uri, STMT, spark=self.spark)
        plan = df._jdf.queryExecution().logical().toString()
        return "jdbc" if "JDBCRelation" in plan else "pgwire"

    # -- traced-run layer probes ---------------------------------------------

    def layer_probes(self) -> dict[str, float]:
        """Direct calls into ``sources.pgwire`` and the server, once per
        traced run: the pieces the DataSource read is made of."""
        from flaco_spark.sources import pgwire
        from scripts.pg_harness import psql

        m: dict[str, float] = {}
        t0 = time.perf_counter()
        psql(self.port, f"COPY ({STMT}) TO '/dev/null'")
        m["pg.server_copy_s"] = time.perf_counter() - t0

        info = pgwire.parse_pg_uri(self.uri)
        t0 = time.perf_counter()
        conn = pgwire.PgWireConnection(info)
        m["pgwire.connect_s"] = time.perf_counter() - t0
        with conn:
            t0 = time.perf_counter()
            conn.query(f"SELECT * FROM ({STMT}) flaco_schema_probe LIMIT 0")
            m["pgwire.schema_probe_s"] = time.perf_counter() - t0
            rows = pages = 0
            t0 = time.perf_counter()
            for _, chunk in conn.query_paged(STMT, fetch_rows=65_536):
                pages += 1
                rows += len(chunk)
            drain = time.perf_counter() - t0
        t0 = time.perf_counter()
        pgwire.probe_bounds(self.uri, STMT, "c_int4")
        m["pgwire.probe_bounds_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        table = pgwire.wire_query_to_arrow(self.uri, STMT)
        wire_s = time.perf_counter() - t0
        if rows != self.want["rows"] or table.num_rows != rows:
            self.failures.append(f"pgwire probe: drained {rows} rows, table {table.num_rows}")
        m.update({
            "pgwire.query_paged_s": drain,
            "pgwire.rows": float(rows),
            "pgwire.pages": float(pages),
            "pgwire.decode_rows_per_s": rows / drain,
            "pgwire.arrow_build_s": wire_s - drain,
        })
        return m


def _pg_tmp(system_tmp: str) -> str:
    """Where the throwaway cluster lives.  PostgreSQL runs as the
    ``postgres`` user and puts its Unix socket in that directory, so the
    run's own scratch space is used only when that user can enter it
    and the socket path stays short; otherwise the system temp dir."""
    from scripts.pg_harness import run_user_prefix

    here = tempfile.gettempdir()
    prefix = run_user_prefix() or []
    if len(here) <= 64 and subprocess.run([*prefix, "test", "-w", here, "-a", "-x", here],
                                          capture_output=True).returncode == 0:
        return here
    return system_tmp


def run(ctx, spark) -> dict:
    """Set up PostgreSQL, warm up, measure, check; returns the
    workload's record (see ``run.py``)."""
    from scripts.pg_harness import local_postgres, psql

    tracer = harness.Tracer(False)  # the warm-up is never traced
    rng = random.Random(ctx.seed)

    with contextlib.ExitStack() as stack:
        tempfile.tempdir = _pg_tmp(ctx.system_tmp)
        try:
            pg = stack.enter_context(local_postgres())
        finally:
            tempfile.tempdir = None
        harness.log(f"postgres up at {time.time() - ctx.process_start:.1f}s")
        psql(pg["port"], seed_sql(ctx.seed))
        harness.log(f"seeded at {time.time() - ctx.process_start:.1f}s")
        server_version = psql(pg["port"], "SHOW server_version")
        bench = PgExtract(spark, pg["port"], ctx.out_dir, tracer)
        harness.log(f"server digest at {time.time() - ctx.process_start:.1f}s")
        # the first op is a read_sql_to_file: first_op_s is what a
        # one-shot flaco script pays
        first_op_s = harness.warm_up(OPS, bench.run_op, bench.check, WARM_ROUNDS)
        setup_s = time.time() - ctx.process_start
        harness.log(f"set up in {setup_s:.1f}s (first op {first_op_s:.1f}s)")

        tracer.enabled = ctx.trace
        with bench.layer_spans() if ctx.trace else contextlib.nullcontext():
            measured = harness.measure_passes(OPS, bench.run_op, bench.check, ctx.seconds, rng)
        transport = bench.transport_used()
        probes = bench.layer_probes() if ctx.trace else {}

    return {
        "measured": measured,
        "setup_s": setup_s,
        "first_op_s": first_op_s,
        "failures": bench.failures,
        "tracer": tracer,
        "layers": {**probes, "sink.bytes_written": float(bench.bytes_written)},
        "stamps": {"transport": transport, "pg_version": server_version,
                   "rows": ROWS},
    }
