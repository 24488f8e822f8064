"""SQL-over-the-wire serving face — the Metabase-analog endpoint.

The reference's E3 path is a BI tool speaking SQL to the warehouse over
a server socket (reference readme.md:115-118: Metabase pointed at the
Postgres warehouse; docker-compose.yml:42-58 wires the two containers).
A user of the reference can point ANY SQL client at the warehouse; this
module gives the Spark engine the same face:

  * `register_warehouse(spark, sf_dir)` — publishes the warehouse
    tables into the shared external catalog as EXTERNAL parquet tables
    (`CREATE TABLE ... USING parquet LOCATION ...`). Catalog entries —
    unlike temp views — are visible to every session of the context,
    including the per-connection sessions the thrift server spawns, and
    scans through them keep full pushdown/pruning (same DataSource V1
    parquet relation the DataFrame API plans).
  * `start_sql_endpoint(spark, port)` — boots Spark's own
    HiveThriftServer2 IN-PROCESS on the given port: a real HiveServer2
    wire protocol (SASL/thrift) endpoint sharing this SparkSession's
    catalog, exactly what `sbin/start-thriftserver.sh` runs in a
    standalone deployment. Any JDBC/ODBC BI tool (Metabase's Spark SQL
    driver included) connects to `jdbc:hive2://host:port/default`.

The integration test (tests/test_sql_serving.py) drives the endpoint
with the `beeline` JDBC client shipped in the Spark distribution — a
genuine out-of-process SQL client speaking the wire protocol, running a
star join against the served catalog.

Spark Connect would be the newer serving face, but its Python client
needs grpcio+protobuf, both absent from this runtime (probed every
round, installs prohibited) — the thrift endpoint carries E3 parity and
is the protocol BI tools actually ship drivers for.

Scale note: the endpoint is a driver-side listener; query execution is
whatever the cluster does — serving adds no new shuffle or collect
beyond the submitted SQL. Each JDBC fetch streams incrementally
(`hive.server2.thrift.resultset.max.fetch.size` batches), so a big
SELECT doesn't materialize on the driver beyond one fetch batch.
"""

from __future__ import annotations

import os
import socket
import time

from pyspark.sql import SparkSession

from datawarehouse1_spark.catalog import TABLES, footer_schema


def register_warehouse(
    spark: SparkSession, sf_dir: str, database: str = "warehouse"
) -> None:
    """Publish the warehouse tables as external parquet catalog tables.

    Idempotent; `database` namespaces them (`warehouse.lineitem`), and
    the files stay where they are. Each table's columns come from its
    parquet footer (catalog.footer_schema, read on the driver), so
    registration runs no Spark job; a bare `CREATE TABLE ... LOCATION`
    would run one per table to infer the schema. Tables the footer
    mapping does not cover, or whose fields carry metadata that DDL
    would drop, still let Spark infer. The stored schema is the same
    either way.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        schema = footer_schema(spark, path)
        columns = _column_ddl(spark, schema) if schema is not None else None
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{name}"
            + (f" ({columns})" if columns else "")
            + f" USING parquet LOCATION '{path}'"
        )


def _column_ddl(spark: SparkSession, schema):
    """Spark's column DDL for `schema`, or None when the DDL would not
    parse back to the same schema (field metadata other than comments)."""
    types = spark._jvm.org.apache.spark.sql.types
    jschema = types.DataType.fromJson(schema.json())
    ddl = jschema.toDDL()
    return ddl if types.StructType.fromDDL(ddl).equals(jschema) else None


# Semantic layer: curated SQL views published alongside the raw tables
# — what a BI consumer actually points dashboards at (the Metabase
# "questions" layer). Views are catalog objects: visible to every
# thrift session, planned per-query through Catalyst with full
# pushdown into the underlying parquet (a view adds no physical cost,
# SCALE.md rule 18). Money aggregates use the exact-decimal discipline
# (functions/money.py) so a dashboard number equals the batch number.
WAREHOUSE_VIEWS: dict[str, str] = {
    "monthly_revenue": """
        SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
               count(DISTINCT o.o_orderkey) AS n_orders,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue
        FROM {db}.lineitem l JOIN {db}.orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    """,
    "customer_value": """
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               count(o.o_orderkey) AS n_orders,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS lifetime_value
        FROM {db}.customer c
        JOIN {db}.nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN {db}.orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name, n.n_name
    """,
    "order_priority_mix": """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_value
        FROM {db}.orders
        GROUP BY o_orderpriority
    """,
}


def register_views(
    spark: SparkSession, database: str = "warehouse"
) -> None:
    """Publish the semantic-layer views into the served catalog.
    Idempotent (CREATE OR REPLACE); call after register_warehouse."""
    for name, sql in WAREHOUSE_VIEWS.items():
        spark.sql(
            f"CREATE OR REPLACE VIEW {database}.{name} AS "
            + sql.format(db=database)
        )


def start_sql_endpoint(
    spark: SparkSession,
    port: int = 10000,
    host: str = "127.0.0.1",
    startup_timeout: int = 60,
):
    """Start HiveThriftServer2 in-process, serving this session's
    catalog on `host:port`. Returns the JVM server object (callers may
    `.stop()` it). Blocks until the listener accepts connections.

    HiveConf reads matching JVM system properties at construction
    (HiveConf.applySystemProperties), which is the supported way to
    configure a programmatically-started server; derby scratch state is
    pointed at a temp dir so the working directory stays clean."""
    jvm = spark._jvm
    jvm.System.setProperty("hive.server2.thrift.port", str(port))
    jvm.System.setProperty("hive.server2.thrift.bind.host", host)
    if not jvm.System.getProperty("derby.system.home"):
        import tempfile

        jvm.System.setProperty(
            "derby.system.home", tempfile.mkdtemp(prefix="dw1_derby_")
        )
    server = jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2.startWithContext(
        spark._jsparkSession.sqlContext()
    )
    deadline = time.monotonic() + startup_timeout
    while True:
        try:
            socket.create_connection((host, port), timeout=1).close()
            return server
        except OSError:
            if time.monotonic() > deadline:
                server.stop()
                raise TimeoutError(
                    f"thrift endpoint did not listen on {host}:{port} "
                    f"within {startup_timeout}s"
                )
            time.sleep(0.25)


def main() -> None:
    """`python -m datawarehouse1_spark.serving --sf-dir ... --port ...`:
    the long-running serving container, E3-parity deployment shape."""
    import argparse

    from datawarehouse1_spark import get_spark

    p = argparse.ArgumentParser(description="SQL-over-thrift warehouse endpoint")
    p.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    p.add_argument("--port", type=int, default=10000)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--database", default="warehouse")
    args = p.parse_args()

    spark = get_spark("datawarehouse1-sql-endpoint")
    register_warehouse(spark, args.sf_dir, database=args.database)
    register_views(spark, database=args.database)
    start_sql_endpoint(spark, port=args.port, host=args.host)
    print(
        f"serving {args.database}.* on jdbc:hive2://{args.host}:{args.port}/default",
        flush=True,
    )
    spark.streams.resetTerminated()
    try:
        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        pass


if __name__ == "__main__":
    main()
