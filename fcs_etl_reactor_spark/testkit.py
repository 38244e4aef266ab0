"""The driver's correctness gate (__spark_entry__.py contract), and
the only copy of it: run the Spark query and the DuckDB oracle SQL on
the same parquet fixtures, then compare schema (column names AND
types), row count, and the sorted canonical value lines the driver
hashes (`canon_cell` / `value_hash`). A query passes here exactly when
the driver records a hash match.

Types are compared via an explicit Spark↔DuckDB mapping (round-2
lesson: the driver rejects TIMESTAMPTZ vs TIMESTAMP and HUGEINT vs
BIGINT; a names-only local check masked all four such failures).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass, field

import duckdb

from fcs_etl_reactor_spark.io import TABLES, table_path


def spark_type_to_duck(dt) -> str:
    """The DuckDB type string a driver-passing oracle must produce for
    a Spark column of type `dt`. One-to-one on purpose: SUM(BIGINT) in
    DuckDB yields HUGEINT and TO_TIMESTAMP yields TIMESTAMP WITH TIME
    ZONE — both driver-rejected against Spark BIGINT/TIMESTAMP, so the
    oracle must cast. TIMESTAMP_NTZ maps to an impossible sentinel:
    engine queries must normalize it away (io._normalize_ts), never
    surface it."""
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "BIGINT"
    if isinstance(dt, T.IntegerType):
        return "INTEGER"
    if isinstance(dt, T.ShortType):
        return "SMALLINT"
    if isinstance(dt, T.ByteType):
        return "TINYINT"
    if isinstance(dt, T.DoubleType):
        return "DOUBLE"
    if isinstance(dt, T.FloatType):
        return "FLOAT"
    if isinstance(dt, T.StringType):
        return "VARCHAR"
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, T.DateType):
        return "DATE"
    if isinstance(dt, T.TimestampType):
        return "TIMESTAMP"
    if isinstance(dt, T.TimestampNTZType):
        return "<TIMESTAMP_NTZ — normalize before surfacing>"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.BinaryType):
        return "BLOB"
    if isinstance(dt, T.ArrayType):
        return spark_type_to_duck(dt.elementType) + "[]"
    if isinstance(dt, T.MapType):
        return (
            f"MAP({spark_type_to_duck(dt.keyType)}, "
            f"{spark_type_to_duck(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {spark_type_to_duck(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT({inner})"
    return "<unmapped spark type " + dt.simpleString() + ">"


def schema_diff(spark_df, rel) -> str:
    """'' if the DuckDB relation's schema maps exactly onto the Spark
    DataFrame's (names AND types, order-insensitive), else a message."""
    sfields = {f.name: spark_type_to_duck(f.dataType) for f in spark_df.schema.fields}
    ofields = dict(zip(rel.columns, (str(t) for t in rel.types)))
    if sorted(sfields) != sorted(ofields):
        return (
            f"schema mismatch: spark={sorted(sfields)} oracle={sorted(ofields)}"
        )
    bad = [
        f"{name}: spark {sfields[name]} != oracle {ofields[name]}"
        for name in sorted(sfields)
        if sfields[name] != ofields[name]
    ]
    if bad:
        return "type mismatch: " + "; ".join(bad)
    return ""


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def canon_cell(v):
    # Mirrors the REAL driver's canonicalizer, which pandas-sorts every
    # output column: a top-level ARRAY/STRUCT/MAP cell crashes it with
    # "unhashable type" (observed in CORRECTNESS_r01). This check must
    # never be more lenient than production, so the same shapes are a
    # hard error here.
    import datetime as dt
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        # keep the offset: a tz-aware cell must NOT hash equal to its
        # naive twin (the driver rejects TIMESTAMPTZ oracles)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict)) or hasattr(v, "asDict"):
        raise TypeError(
            f"top-level complex cell {type(v).__name__} crashes the driver's "
            "canonicalizer — serialize arrays/structs/maps to strings in the query"
        )
    return str(v)


def canon_lines(rows, cols) -> list[str]:
    """The sorted canonical lines `value_hash` hashes: one per row,
    cells in column-name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)


def value_hash(rows, cols):
    h = hashlib.sha256()
    for ln in canon_lines(rows, cols):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class DiffResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    detail: str = ""
    mismatches: list = field(default_factory=list)

    def __str__(self):
        status = "OK " if self.ok else "FAIL"
        return f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows} {self.detail}"


def compare(name: str, spark_df, sql: str, sf_dir: str, con=None) -> DiffResult:
    own = con is None
    if own:
        con = duck_connection(sf_dir)
    try:
        rel = con.sql(sql)
        ocols = list(rel.columns)
        sdiff = schema_diff(spark_df, rel)
        oracle = rel.fetchall()
    finally:
        if own:
            con.close()

    srows = spark_df.collect()
    res = DiffResult(name, False, len(srows), len(oracle))
    if sdiff:
        res.detail = sdiff
        return res
    if len(srows) != len(oracle):
        res.detail = "row count mismatch"
        return res
    try:
        slines = canon_lines(srows, spark_df.columns)
        olines = canon_lines(oracle, ocols)
    except TypeError as exc:  # the driver records this as an error
        res.detail = str(exc)
        return res
    if slines == olines:
        res.ok = True
        return res
    # the first lines each side has that the other lacks (as multisets)
    sonly = sorted((Counter(slines) - Counter(olines)).elements())
    oonly = sorted((Counter(olines) - Counter(slines)).elements())
    res.detail = f"value mismatch ({len(sonly)} rows differ)"
    res.mismatches = list(zip(sonly, oonly))[:3]
    return res


def run_all(spark, sf_dir: str, names: list[str] | None = None):
    """Yield one `compare` result per query in *names* (default: every
    oracle-checked query). Releases the prepared-plan cache and the
    CacheManager every 50 queries, the real driver's window size: one
    vanilla 1g-heap session running the whole registry otherwise pins
    every executed plan's broadcasts and runs out of heap."""
    from fcs_etl_reactor_spark.queries import _PLAN_CACHE_ATTR, ORACLE, QUERIES

    con = duck_connection(sf_dir)
    try:
        for i, qname in enumerate(names or list(ORACLE)):
            if i and i % 50 == 0:
                spark.__dict__.pop(_PLAN_CACHE_ATTR, None)
                spark.catalog.clearCache()
            try:
                yield compare(qname, QUERIES[qname](spark, sf_dir), ORACLE[qname], sf_dir, con)
            except Exception as exc:  # the driver records the traceback as err
                yield DiffResult(qname, False, detail=f"ERROR {type(exc).__name__}: {exc}")
    finally:
        con.close()
