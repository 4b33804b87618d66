"""Catalog: table metadata (schema, primary key, source path, cardinality).

Mirrors the reference's data model (SURVEY §1.1): tables are flat,
declared via a DDL of the shape

    CREATE TABLE name (
        col TYPE, ...,
        PRIMARY KEY (a, b)
    ) WITH ('path' = 'file.csv', 'cardinality' = '12345')

(reference grammar: sqlplus-core/src/main/codegen/includes/parserImpls.ftl:104-190;
table object: sqlplus-core/.../plan/table/SqlPlusTable.java:17-56).

We keep PK and cardinality as planner metadata — the PK drives the
cyclic "break" rewrite and fix-root FD chase; cardinality drives root
selection for aggregations. Types map to Spark types per SURVEY §1.2.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# DDL type name -> Spark type (SURVEY §1.2). The reference maps DECIMAL
# to double (no exact decimal arithmetic, DataType.scala:74,85); we do
# the same by default for result-hash compatibility.
_TYPE_MAP: dict[str, T.DataType] = {
    "INTEGER": T.IntegerType(),
    "INT": T.IntegerType(),
    "BIGINT": T.LongType(),
    "VARCHAR": T.StringType(),
    "STRING": T.StringType(),
    "TIMESTAMP": T.TimestampType(),
    "DATE": T.DateType(),
    "DOUBLE": T.DoubleType(),
    "DECIMAL": T.DoubleType(),
    "FLOAT": T.FloatType(),
    "BOOLEAN": T.BooleanType(),
}


@dataclass
class TableMeta:
    """One catalog entry: schema + planner metadata."""

    name: str
    columns: list[tuple[str, T.DataType]]
    primary_key: tuple[str, ...] = ()
    path: str | None = None
    fmt: str = "parquet"
    cardinality: int | None = None
    df: DataFrame | None = None  # pre-registered DataFrame (takes precedence)
    # monotonically stamped by Catalog.register — identifies THIS
    # registration event for the api plan cache's catalog fingerprint
    # (object ids can be reused after gc; epochs cannot)
    epoch: int = 0

    @property
    def column_names(self) -> list[str]:
        return [c for c, _ in self.columns]

    def spark_schema(self) -> T.StructType:
        return T.StructType([T.StructField(c, t, True) for c, t in self.columns])

    def load(self, spark: SparkSession) -> DataFrame:
        """Materialize this table as a DataFrame (scan or pre-registered)."""
        if self.df is not None:
            return self.df
        if self.path is None:
            raise ValueError(f"table {self.name} has neither a DataFrame nor a path")
        if self.fmt == "parquet":
            df = spark.read.parquet(self.path)
            # project/rename to declared schema if narrower
            declared = self.column_names
            if declared and set(declared) <= set(df.columns):
                df = df.select(*declared)
            return df
        if self.fmt == "csv":
            # reference reads headerless comma CSV with typed per-column
            # casts (AbstractSparkSQLPlusCodeGenerator.scala:90-100)
            return spark.read.schema(self.spark_schema()).csv(
                self.path, header=False, sep=","
            )
        if self.fmt in ("json", "jsonl"):
            # JSON Lines (engine extension; the dominant raw-corpus
            # interchange format in LLM-data pipelines). The declared
            # schema drives the read — no inference pass over the data
            # (an extra full scan at 100 TB); missing fields read NULL,
            # extra fields are ignored per Spark's JSON semantics
            return spark.read.schema(self.spark_schema()).json(self.path)
        if self.fmt == "orc":
            df = spark.read.orc(self.path)
            declared = self.column_names
            if declared and set(declared) <= set(df.columns):
                df = df.select(*declared)
            return df
        raise ValueError(f"unsupported format {self.fmt}")


class UnknownTableError(KeyError):
    """Lookup of a table the catalog has never seen."""

    def __str__(self) -> str:  # KeyError quotes its message; keep it readable
        return self.args[0] if self.args else "unknown table"


class Catalog:
    """Flat, case-insensitive namespace of tables.

    (reference: catalog/CatalogManager.java:26-50 — case-insensitive at :29)
    """

    def __init__(self) -> None:
        self._tables: dict[str, TableMeta] = {}
        self._next_epoch = 0
        # (table epoch, stat key) -> value; see table_stat
        self._stats: dict[tuple[int, object], object] = {}

    def register(self, meta: TableMeta) -> None:
        self._drop(meta.name)
        self._next_epoch += 1
        meta.epoch = self._next_epoch
        self._tables[meta.name.lower()] = meta

    def _drop(self, name: str) -> None:
        """Remove a table entry and the statistics of its registration."""
        old = self._tables.pop(name.lower(), None)
        if old is not None:
            for k in [k for k in self._stats if k[0] == old.epoch]:
                del self._stats[k]

    def table_stat(self, name: str, key, compute):
        """A statistic of the table registered as ``name``, computed once
        per registration by ``compute()`` (the planner's degree
        moments). Entries are keyed on the table's epoch and dropped when
        the name is registered again or unregistered, so they never
        outlive the data they describe and are bounded by the live
        tables' keys."""
        meta = self.get(name)
        k = (meta.epoch, key)
        if k not in self._stats:
            self._stats[k] = compute()
        return self._stats[k]

    def register_df(
        self,
        name: str,
        df: DataFrame,
        primary_key: tuple[str, ...] = (),
        cardinality: int | None = None,
    ) -> None:
        cols = [(f.name, f.dataType) for f in df.schema.fields]
        self.register(
            TableMeta(
                name=name,
                columns=cols,
                primary_key=tuple(primary_key),
                cardinality=cardinality,
                df=df,
            )
        )

    def unregister(self, name: str) -> None:
        """Drop a table entry (no-op if absent) — used for the
        ephemeral composite-view registrations api._plan_subqueries
        makes while planning a single statement."""
        self._drop(name)

    def get(self, name: str) -> TableMeta:
        key = name.lower()
        if key not in self._tables:
            known = ", ".join(sorted(self._tables)) or "<empty catalog>"
            raise UnknownTableError(f"unknown table: {name} (registered: {known})")
        return self._tables[key]

    def __contains__(self, name: str) -> bool:
        return name.lower() in self._tables

    def tables(self) -> list[TableMeta]:
        return list(self._tables.values())


_DDL_HEAD = re.compile(r"CREATE\s+TABLE\s+(?P<name>\w+)\s*\(", re.IGNORECASE)
_PROP = re.compile(r"'(?P<k>[^']*)'\s*=\s*'(?P<v>[^']*)'")


def _balanced(text: str, open_pos: int) -> int:
    """Index just past the ')' matching the '(' at open_pos."""
    depth = 0
    for i in range(open_pos, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError("unbalanced parentheses in DDL")


def parse_ddl(ddl: str, catalog: Catalog | None = None) -> Catalog:
    """Parse one or more CREATE TABLE statements into a Catalog."""
    catalog = catalog or Catalog()
    pos = 0
    while True:
        m = _DDL_HEAD.search(ddl, pos)
        if not m:
            break
        name = m.group("name")
        body_end = _balanced(ddl, m.end() - 1)
        body = ddl[m.end() : body_end - 1]
        pos = body_end
        props_m = re.match(r"\s*WITH\s*\(", ddl[pos:], re.IGNORECASE)
        props_str = ""
        if props_m:
            props_end = _balanced(ddl, pos + props_m.end() - 1)
            props_str = ddl[pos + props_m.end() : props_end - 1]
            pos = props_end
        cols: list[tuple[str, T.DataType]] = []
        pk: tuple[str, ...] = ()
        # split body on top-level commas (no nested parens except PK list)
        depth = 0
        parts: list[str] = []
        cur = []
        for ch in body:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if cur:
            parts.append("".join(cur))
        for part in parts:
            part = part.strip()
            if not part:
                continue
            pk_m = re.match(r"PRIMARY\s+KEY\s*\((.*?)\)", part, re.IGNORECASE)
            if pk_m:
                pk = tuple(c.strip() for c in pk_m.group(1).split(","))
                continue
            toks = part.split()
            col_name, type_name = toks[0], toks[1].upper()
            type_name = re.sub(r"\(.*\)", "", type_name)  # DECIMAL(10,2) -> DECIMAL
            if type_name not in _TYPE_MAP:
                raise ValueError(f"unsupported DDL type {type_name} in {name}.{col_name}")
            cols.append((col_name, _TYPE_MAP[type_name]))
        props = dict(_PROP.findall(props_str))
        card = int(props["cardinality"]) if "cardinality" in props else None
        path = props.get("path")
        if path and path.endswith((".csv", ".dat", ".txt")):
            fmt = "csv"
        elif path and path.endswith((".json", ".jsonl", ".ndjson")):
            fmt = "json"
        elif path and path.endswith(".orc"):
            fmt = "orc"
        else:
            fmt = "parquet"
        catalog.register(
            TableMeta(
                name=name,
                columns=cols,
                primary_key=pk,
                path=path,
                fmt=props.get("format", fmt),
                cardinality=card,
            )
        )
    return catalog
