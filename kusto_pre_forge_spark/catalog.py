"""Table registry: schema + hash-partitioning policy.

Replaces the reference's runtime control-command round-trips to Kusto:
``.show table T policy partitioning`` → {ColumnName, MaxPartitionCount, Seed}
and ``.show table T`` → ordered column list for name→index resolution
(ref: code/KustoPreForgeLib/EtlRun.cs:140-180, RunningContext.cs:92-152).

The schema system is external/dynamic in the reference (never inferred from
data — SURVEY §1.2); here the catalog is an explicit registry the engine
consults at plan-build time. At cluster scale this would be backed by a
metastore; the in-memory dict is the same interface.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T


@dataclass(frozen=True)
class PartitionPolicy:
    """Hash-partitioning policy (ref: EtlRun.cs:149-159; FIXTURES.md F3)."""

    column_name: str
    max_partition_count: int = 8
    seed: int = 42

    def __post_init__(self) -> None:
        if not 1 <= self.max_partition_count <= 2048:  # Kusto's documented cap
            raise ValueError("max_partition_count must be in [1, 2048]")


@dataclass
class TableDef:
    name: str
    schema: T.StructType
    partition_policy: PartitionPolicy | None = None

    def column_index(self, name: str) -> int:
        """Name → ordinal, ref: EtlRun.cs:170-174 (list columns, IndexOf)."""
        names = [f.name for f in self.schema.fields]
        try:
            return names.index(name)
        except ValueError:
            raise KeyError(f"column {name!r} not in table {self.name!r}") from None


#: The reference's integration-test schema, from the KQL generator
#: GenerateLogData (deployment/infra/schema.kql:1-23); FIXTURES.md F1.
LOG_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("Id", T.LongType(), False),
        T.StructField("Timestamp", T.TimestampType(), False),
        T.StructField("Level", T.StringType(), False),
        T.StructField("Node", T.StringType(), False),
        T.StructField("ActivityId", T.StringType(), False),
        T.StructField("Text", T.StringType(), False),
    ]
)


class Catalog:
    def __init__(self) -> None:
        self._tables: dict[str, TableDef] = {}

    def register(self, table: TableDef) -> None:
        self._tables[table.name] = table

    def get(self, name: str) -> TableDef:
        try:
            return self._tables[name]
        except KeyError:
            raise KeyError(f"table {name!r} not registered") from None

    def partitioning(self, name: str) -> PartitionPolicy:
        """ref: EtlRun.cs:149-159 — missing policy is a hard error there too."""
        policy = self.get(name).partition_policy
        if policy is None:
            raise ValueError(f"table {name!r} has no partitioning policy")
        return policy
