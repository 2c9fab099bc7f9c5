"""Managed-table catalog.

The reference keeps a persistent catalog (SnappyHiveExternalCatalog.scala)
with table options PARTITION_BY / BUCKETS / KEY_COLUMNS / COLOCATE_WITH /
REPLICATE (StoreUtils.scala:42-105, ExternalStoreUtils.scala:88-105).  Our
Spark-first equivalent: managed tables are parquet directories plus a tiny
JSON metadata file carrying the options vocabulary.  PARTITION_BY/BUCKETS
map to a hash-bucketed layout (repartition on the keys before write so that
files are key-clustered); KEY_COLUMNS drive the mutation ops (mutate.py);
REPLICATE marks a table as broadcast-preferred at join sites; COLOCATE_WITH
records that two tables share a bucketing spec (Catalyst elides the shuffle
when both sides are bucketed on the join keys).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
from dataclasses import dataclass, field, asdict

_META_FILE = "_snappy_meta.json"


@dataclass
class TableMeta:
    name: str
    provider: str = "column"  # column | row (semantic flavor only)
    key_columns: list[str] = field(default_factory=list)
    partition_by: list[str] = field(default_factory=list)
    buckets: int = 0
    colocate_with: str = ""
    replicate: bool = False
    options: dict = field(default_factory=dict)

    @staticmethod
    def from_options(name: str, provider: str, options: dict | None) -> "TableMeta":
        opts = {k.lower(): v for k, v in (options or {}).items()}

        def _cols(key: str) -> list[str]:
            v = opts.pop(key, "")
            if isinstance(v, (list, tuple)):
                return [str(c).strip().lower() for c in v]
            return [c.strip().lower() for c in str(v).split(",") if c.strip()]

        # parse into locals first: `replicate` must see the parsed
        # partition_by list, not the opts dict after _cols() popped the key
        # (a row table is replicated only when it is NOT partitioned —
        # StoreUtils.scala:42-105)
        key_columns = _cols("key_columns")
        partition_by = _cols("partition_by")
        replicate = (
            str(opts.pop("replicate", "false")).lower() == "true"
            or (provider.lower() == "row" and not partition_by)
        )
        return TableMeta(
            name=canon_name(name),
            provider=provider.lower(),
            key_columns=key_columns,
            partition_by=partition_by,
            buckets=int(opts.pop("buckets", 0) or 0),
            colocate_with=canon_name(str(opts.pop("colocate_with", ""))),
            replicate=replicate,
            options=opts,
        )


#: the reference's default schema (tables live in APP unless qualified,
#: SnappySessionCatalog) — `app.t`, `default.t`, and `t` are the same table
DEFAULT_SCHEMAS = ("app", "default")


def canon_name(name: str) -> str:
    """Canonical internal table id for a possibly schema-qualified name:
    the default-schema prefix is stripped; any other schema flattens to
    `schema__table` (dot-free, so the id is also a legal view name)."""
    n = name.strip().lower()
    if "." in n:
        sch, t = n.split(".", 1)
        if sch in DEFAULT_SCHEMAS:
            return t
        return f"{sch}__{t}"
    return n


def write_json_atomic(path: str, obj, **dump_kwargs) -> None:
    """Replace `path` with `obj` as JSON in one os.replace: a crash or a
    concurrent reader sees the old file or the new one, never a torn
    write.  The temp name is per process and thread, so two writers of
    one path never share it."""
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, **dump_kwargs)
    os.replace(tmp, path)


class Catalog:
    """Directory-backed catalog: one subdir per managed table."""

    def __init__(self, base_dir: str | None = None):
        self.base_dir = base_dir or os.path.join(
            tempfile.gettempdir(), "snappydata_spark_store"
        )
        os.makedirs(self.base_dir, exist_ok=True)

    def table_path(self, name: str) -> str:
        return os.path.join(self.base_dir, canon_name(name))

    def data_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), "data")

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.table_path(name), _META_FILE))

    def save_meta(self, meta: TableMeta) -> None:
        os.makedirs(self.table_path(meta.name), exist_ok=True)
        # atomic replace: a torn write must never be observable
        write_json_atomic(
            os.path.join(self.table_path(meta.name), _META_FILE),
            asdict(meta),
            indent=2,
        )

    def load_meta(self, name: str) -> TableMeta:
        with open(os.path.join(self.table_path(name), _META_FILE)) as f:
            return TableMeta(**json.load(f))

    def drop(self, name: str) -> None:
        shutil.rmtree(self.table_path(name), ignore_errors=True)

    def list_tables(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.base_dir)
            if os.path.exists(os.path.join(self.base_dir, d, _META_FILE))
        )
