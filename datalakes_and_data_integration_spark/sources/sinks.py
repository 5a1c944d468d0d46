"""Warehouse sinks (reference S18 + storage-layout knobs).

The reference replaces a single Postgres/TimescaleDB table wholesale each
run (`/root/reference/src/process_to_curated.py:189-199`,
``if_exists='replace'``). Spark-side: ``write.jdbc(mode='overwrite')`` when
a JDBC URL is configured, else partitioned parquet (the lakehouse-native
sink; the container has no database server).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_within: Sequence = (),
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet write; optional within-partition sort to mirror
    Cassandra's clustering order (reference preprocess_to_staging.py:107-108
    — `PRIMARY KEY (code_site, date_de_debut)` clustered ASC), which gives
    time-locality for the window stages downstream.

    ``sort_within`` accepts names or Column sort expressions. When the
    upstream plan already emits the requested order (e.g. a window stage
    sorted by the same keys), pass sort expressions with the SAME null
    ordering — Spark's RemoveRedundantSorts can then elide the SortExec
    entirely, instead of re-sorting the full wide table before the write
    (a default-direction mismatch like nulls_first vs the window's
    nulls_last forces a redundant O(n log n) pass)."""
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc_overwrite(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """JDBC overwrite sink (S18). ``batchsize`` replaces the reference's
    hand-rolled batch-of-100 inserts (faster_preprocess_to_staging.py:
    135-167) with the driver-native batching."""
    props = {"batchsize": str(batchsize)}
    if properties:
        props.update(properties)
    df.write.jdbc(url, table, mode="overwrite", properties=props)


def write_postgres_copy(
    df: DataFrame,
    socket_dir: str,
    dbname: str,
    table: str,
    user: str = "postgres",
    mode: str = "overwrite",
    psql_bin: str = "psql",
) -> int:
    """Bulk-load a mart-sized DataFrame into a real Postgres-protocol
    server via ``COPY FROM STDIN`` through ``psql`` — the reference's
    curated-warehouse write (`/root/reference/src/process_to_curated.py:
    189-199`, pandas ``to_sql(if_exists='replace')`` to TimescaleDB)
    re-expressed as the COPY bulk protocol (the fast path every Postgres
    loader converges on; row INSERTs are ~10-50x slower).

    Why not ``write.jdbc('jdbc:postgresql:...')``: this container ships no
    Postgres JDBC driver jar and no network to fetch one, so the
    jdbc:postgresql route is untestable here; the JDBC writer contract is
    pinned against embedded Derby instead (tests/test_jdbc_sink.py). This
    sink covers the other half — a REAL Postgres server speaking the real
    wire protocol (tests/test_postgres_sink.py starts one on a unix
    socket). Connection is socket-based: ``psql -h <socket_dir>``.

    Scale shape: the curated mart the reference ships to Postgres is an
    AGGREGATE (thousands of rows, not the lake), so a single-stream COPY
    through the driver is the right size. For fact-scale loads, run the
    same COPY per partition from executors (``df.foreachPartition`` with a
    client lib, or per-partition CSV + parallel ``psql``) against a
    partitioned target table.

    Returns the number of rows loaded. ``mode='overwrite'`` recreates the
    table (the reference's ``if_exists='replace'``); ``'append'`` requires
    it to exist.
    """
    import io
    import subprocess

    def q(ident: str) -> str:
        return '"' + ident.replace('"', '""') + '"'

    _PG_TYPES = {
        "long": "bigint",
        "bigint": "bigint",
        "int": "integer",
        "integer": "integer",
        "smallint": "smallint",
        "tinyint": "smallint",
        "double": "double precision",
        "float": "real",
        "string": "text",
        "boolean": "boolean",
        "date": "date",
        "timestamp": "timestamp",
        "timestamp_ntz": "timestamp",
    }
    cols = []
    for f in df.schema.fields:
        t = f.dataType.typeName()
        if t == "decimal":
            pg = f.dataType.simpleString()  # decimal(p,s) is valid in PG
        elif t in _PG_TYPES:
            pg = _PG_TYPES[t]
        else:
            raise ValueError(
                f"write_postgres_copy: unsupported column type {t!r} for "
                f"{f.name!r} (flatten arrays/structs before the mart write)"
            )
        cols.append(f"{q(f.name)} {pg}")

    pdf = df.toPandas()  # scale-ok: mart-sized aggregate (see docstring)
    buf = io.StringIO()
    pdf.to_csv(buf, index=False, header=False)

    ddl = ""
    if mode == "overwrite":
        ddl = (
            f"DROP TABLE IF EXISTS {q(table)}; "
            f"CREATE TABLE {q(table)} ({', '.join(cols)}); "
        )
    sql = (
        f"{ddl}COPY {q(table)} FROM STDIN WITH (FORMAT csv, NULL '')"
    )
    subprocess.run(
        [
            psql_bin,
            "--no-psqlrc",
            "-v",
            "ON_ERROR_STOP=1",
            "-h",
            socket_dir,
            "-U",
            user,
            "-d",
            dbname,
            "-c",
            sql,
        ],
        input=buf.getvalue().encode(),
        check=True,
        capture_output=True,
    )
    return len(pdf)

