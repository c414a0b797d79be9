"""pg_extract's inputs come from the seed: the same seed gives the same
data, another seed other data of the same schema."""

from __future__ import annotations

import pytest

from perfbench import pg_extract

ROWS = 2_000


@pytest.fixture(scope="module")
def pg():
    from scripts.pg_harness import HarnessUnavailable, local_postgres

    try:
        with local_postgres() as handle:
            yield handle
    except HarnessUnavailable as exc:
        pytest.skip(f"no local PostgreSQL: {exc}")


def _seeded(pg, seed: int, table: str) -> tuple[dict, str]:
    from scripts.pg_harness import psql

    psql(pg["port"], pg_extract.seed_sql(seed, rows=ROWS, table=table))
    digest = pg_extract.server_digest(pg["port"], f"SELECT * FROM {table}")
    schema = psql(pg["port"], "SELECT string_agg(column_name || ' ' || data_type, ', ' "
                              "ORDER BY ordinal_position) FROM information_schema.columns "
                              f"WHERE table_name = '{table}'")
    return digest, schema


def test_same_seed_same_digest(pg):
    a, schema_a = _seeded(pg, 7, "seed7_a")
    b, schema_b = _seeded(pg, 7, "seed7_b")
    assert a == b
    assert schema_a == schema_b
    assert a["rows"] == ROWS
    # the NULL share is small but present
    assert 0 < a["nulls.c_text"] < ROWS // 10


def test_other_seed_other_data_same_schema(pg):
    a, schema_a = _seeded(pg, 7, "seed7_c")
    b, schema_b = _seeded(pg, 8, "seed8_a")
    assert schema_a == schema_b
    assert "c_int4 integer" in schema_a and "c_time time without time zone" in schema_a
    assert a["rows"] == b["rows"] == ROWS
    assert a["sum.c_int4"] == b["sum.c_int4"]  # the row number
    assert a["sum.c_int8"] != b["sum.c_int8"]
    assert a["len.c_text"] != b["len.c_text"]


def test_wire_result_matches_server_digest(pg):
    """The Arrow digest of a wire read equals the server's digest (the
    check every pg_extract op's output goes through)."""
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    import pyarrow as pa
    import pyarrow.compute as pc

    from perfbench import harness

    _seeded(pg, 9, "seed9_a")
    uri = f"postgresql://postgres@127.0.0.1:{pg['port']}/postgres"
    table = wire_query_to_arrow(uri, "SELECT * FROM seed9_a")
    # the Spark read path carries TIME as microseconds since midnight
    i = table.column_names.index("c_time")
    micros = pc.cast(table.column(i), pa.time64("us")).cast(pa.int64())
    table = table.set_column(i, "c_time", micros)
    want = pg_extract.server_digest(pg["port"], "SELECT * FROM seed9_a")
    assert harness.digest_mismatch(harness.arrow_digest(table), want) is None


def test_traced_ops_time_the_library_path(pg, spark, tmp_path):
    """A traced run times the ops' own calls: the spans come from shims
    around flaco_spark's inner calls, not from a copy of them, and the
    shims are gone once the traced section ends."""
    import pyarrow.parquet as pq
    from scripts.pg_harness import psql

    from perfbench import harness

    psql(pg["port"], pg_extract.seed_sql(5, rows=ROWS))
    tracer = harness.Tracer(True)
    bench = pg_extract.PgExtract(spark, pg["port"], str(tmp_path), tracer)
    write_table = pq.write_table
    with bench.layer_spans():
        for op in pg_extract.OPS:
            assert bench.run_op(op, f"t:{op}") == ROWS
            bench.check(op, f"t:{op}")
    assert bench.failures == []
    assert pq.write_table is write_table
    children: dict[str, set[str]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(tracer.spans[s.parent].name, set()).add(s.name)
    assert children == {
        "op.to_parquet": {"core.read_sql", "core.to_arrow", "sink.parquet_write"},
        "op.partitioned_to_parquet": {"core.read_sql", "sink.parquet_write"},
    }
