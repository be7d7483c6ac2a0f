"""Metadata catalog: namespaces + features in a sqlite3 database.

The control plane is deliberately tiny and driver-side — the reference keeps
it in any SQLAlchemy DB (/root/reference/bytehub/_model.py:83-133); we use
stdlib sqlite3 (no new dependencies) with the same row semantics:

- Namespace: name (PK), url (UNIQUE), description, storage_options JSON,
  meta JSON, version int           (_model.py:83-112)
- Feature: (namespace, name) PK, description, partition 'year'|'date',
  serialized bool (immutable after create: _model.py:139-143), transform
  JSON payload, meta JSON, version int   (_model.py:125-165)
- any update bumps version (_model.py:41-45,72); meta updates merge keys and
  drop None-valued keys (_model.py:58-68)
- clone copies metadata minus name/namespace/version (_model.py:167-180)

Concurrency: sqlite WAL mode; every method opens a short transaction. The
catalog is metadata-scale (thousands of rows), never a data-plane bottleneck.
"""

from __future__ import annotations

import json
import os
import sqlite3
import threading
from typing import Any

from .exceptions import (
    AlreadyExistsException,
    MissingFeatureException,
    ValidationError,
)
from .utils import validate_name

_SCHEMA = """
CREATE TABLE IF NOT EXISTS namespaces (
    name TEXT PRIMARY KEY,
    description TEXT,
    url TEXT UNIQUE NOT NULL,
    storage_options TEXT NOT NULL DEFAULT '{}',
    meta TEXT NOT NULL DEFAULT '{}',
    version INTEGER NOT NULL DEFAULT 1
);
CREATE TABLE IF NOT EXISTS features (
    namespace TEXT NOT NULL,
    name TEXT NOT NULL,
    description TEXT,
    partition TEXT NOT NULL DEFAULT 'date',
    serialized INTEGER NOT NULL DEFAULT 0,
    transform TEXT,
    meta TEXT NOT NULL DEFAULT '{}',
    version INTEGER NOT NULL DEFAULT 1,
    value_schema TEXT,
    PRIMARY KEY (namespace, name),
    FOREIGN KEY (namespace) REFERENCES namespaces(name)
);
CREATE TABLE IF NOT EXISTS bytehub_version (version TEXT NOT NULL);
"""

_PARTITIONS = ("date", "year")

_NS_FIELDS = ("name", "description", "url", "storage_options", "meta", "version")
_FT_FIELDS = (
    "namespace",
    "name",
    "description",
    "partition",
    "serialized",
    "transform",
    "meta",
    "version",
    "value_schema",
)


def _merge_meta(old: dict, update: dict | None) -> dict:
    """Merge keys; a None value deletes the key (_model.py:58-68)."""
    if update is None:
        return old
    if not isinstance(update, dict):
        raise ValidationError("meta must be a dict")
    out = dict(old)
    for k, v in update.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = v
    return out


class Catalog:
    """sqlite3-backed namespace/feature catalog."""

    def __init__(self, path: str):
        self.path = path
        if path != ":memory:":
            os.makedirs(os.path.dirname(os.path.abspath(path)) or ".", exist_ok=True)
        # One shared connection + lock: catalog traffic is metadata-scale,
        # and callers may hit it from streaming foreachBatch worker threads
        # (":memory:" would otherwise be a fresh empty DB per connection).
        self._lock = threading.RLock()
        self._shared = sqlite3.connect(self.path, timeout=30, check_same_thread=False)
        self._shared.row_factory = sqlite3.Row
        self._shared.execute("PRAGMA journal_mode=WAL")
        con = self._con()
        with self._lock, con:
            con.executescript(_SCHEMA)
            # migration for catalogs created before value_schema existed
            cols = {r[1] for r in con.execute("PRAGMA table_info(features)")}
            if "value_schema" not in cols:
                con.execute("ALTER TABLE features ADD COLUMN value_schema TEXT")
            if not con.execute("SELECT 1 FROM bytehub_version").fetchone():
                con.execute("INSERT INTO bytehub_version VALUES ('1')")

    def _con(self) -> sqlite3.Connection:
        return self._shared

    # ------------------------------------------------------------------
    # Namespaces
    # ------------------------------------------------------------------

    def create_namespace(
        self,
        name: str,
        url: str,
        description: str | None = None,
        storage_options: dict | None = None,
        meta: dict | None = None,
    ) -> None:
        validate_name(name, "namespace name")
        if not url:
            raise ValidationError("Namespace requires a url")
        con = self._con()
        try:
            with self._lock, con:
                con.execute(
                    "INSERT INTO namespaces (name, description, url, storage_options, meta)"
                    " VALUES (?,?,?,?,?)",
                    (
                        name,
                        description,
                        url,
                        json.dumps(storage_options or {}),
                        json.dumps(meta or {}),
                    ),
                )
        except sqlite3.IntegrityError as e:
            raise AlreadyExistsException(
                f"Namespace {name!r} (or its url {url!r}) already exists"
            ) from e

    def get_namespace(self, name: str) -> dict[str, Any] | None:
        row = self._con().execute(
            "SELECT * FROM namespaces WHERE name = ?", (name,)
        ).fetchone()
        return self._ns_dict(row) if row else None

    def list_namespaces(
        self, name: str | None = None, regex: str | None = None
    ) -> list[dict[str, Any]]:
        rows = self._con().execute("SELECT * FROM namespaces ORDER BY name").fetchall()
        out = [self._ns_dict(r) for r in rows]
        if name is not None:
            out = [r for r in out if r["name"] == name]
        if regex is not None:
            import re

            pat = re.compile(regex)
            out = [r for r in out if pat.search(r["name"])]
        return out

    def update_namespace(
        self,
        name: str,
        description: str | None = None,
        storage_options: dict | None = None,
        meta: dict | None = None,
    ) -> None:
        con = self._con()
        with self._lock, con:
            row = con.execute(
                "SELECT * FROM namespaces WHERE name = ?", (name,)
            ).fetchone()
            if row is None:
                raise MissingFeatureException(f"Namespace {name!r} does not exist")
            new_meta = _merge_meta(json.loads(row["meta"]), meta)
            con.execute(
                "UPDATE namespaces SET description = COALESCE(?, description),"
                " storage_options = COALESCE(?, storage_options), meta = ?,"
                " version = version + 1 WHERE name = ?",
                (
                    description,
                    json.dumps(storage_options) if storage_options is not None else None,
                    json.dumps(new_meta),
                    name,
                ),
            )

    def delete_namespace(self, name: str) -> None:
        con = self._con()
        with self._lock, con:
            if con.execute(
                "SELECT 1 FROM features WHERE namespace = ? LIMIT 1", (name,)
            ).fetchone():
                raise ValidationError(
                    f"Namespace {name!r} still contains features; delete them first"
                )
            cur = con.execute("DELETE FROM namespaces WHERE name = ?", (name,))
            if cur.rowcount == 0:
                raise MissingFeatureException(f"Namespace {name!r} does not exist")

    # ------------------------------------------------------------------
    # Features
    # ------------------------------------------------------------------

    def create_feature(
        self,
        namespace: str,
        name: str,
        description: str | None = None,
        partition: str = "date",
        serialized: bool | None = None,
        transform: dict | None = None,
        meta: dict | None = None,
    ) -> None:
        validate_name(name, "feature name")
        if partition not in _PARTITIONS:
            raise ValidationError(f"partition must be one of {_PARTITIONS}")
        con = self._con()
        if self.get_namespace(namespace) is None:
            raise MissingFeatureException(f"Namespace {namespace!r} does not exist")
        try:
            with self._lock, con:
                con.execute(
                    "INSERT INTO features (namespace, name, description, partition,"
                    " serialized, transform, meta) VALUES (?,?,?,?,?,?,?)",
                    (
                        namespace,
                        name,
                        description,
                        partition,
                        int(bool(serialized)),
                        json.dumps(transform) if transform is not None else None,
                        json.dumps(meta or {}),
                    ),
                )
        except sqlite3.IntegrityError as e:
            raise AlreadyExistsException(
                f"Feature {namespace}/{name} already exists"
            ) from e

    def get_feature(self, namespace: str, name: str) -> dict[str, Any] | None:
        row = self._con().execute(
            "SELECT * FROM features WHERE namespace = ? AND name = ?",
            (namespace, name),
        ).fetchone()
        return self._ft_dict(row) if row else None

    def list_features(
        self,
        namespace: str | None = None,
        name: str | None = None,
        regex: str | None = None,
    ) -> list[dict[str, Any]]:
        q = "SELECT * FROM features"
        params: list[Any] = []
        if namespace is not None:
            q += " WHERE namespace = ?"
            params.append(namespace)
        rows = self._con().execute(q + " ORDER BY namespace, name", params).fetchall()
        out = [self._ft_dict(r) for r in rows]
        if name is not None:
            out = [r for r in out if r["name"] == name]
        if regex is not None:
            import re

            pat = re.compile(regex)
            out = [r for r in out if pat.search(r["name"])]
        return out

    def update_feature(
        self,
        namespace: str,
        name: str,
        description: str | None = None,
        transform: dict | None = None,
        meta: dict | None = None,
    ) -> None:
        con = self._con()
        with self._lock, con:
            row = con.execute(
                "SELECT * FROM features WHERE namespace = ? AND name = ?",
                (namespace, name),
            ).fetchone()
            if row is None:
                raise MissingFeatureException(
                    f"Feature {namespace}/{name} does not exist"
                )
            new_meta = _merge_meta(json.loads(row["meta"]), meta)
            # a new transform drops the output type recorded for the old one
            con.execute(
                "UPDATE features SET description = COALESCE(?, description),"
                " transform = COALESCE(?, transform),"
                " value_schema = CASE WHEN ? THEN NULL ELSE value_schema END,"
                " meta = ?, version = version + 1"
                " WHERE namespace = ? AND name = ?",
                (
                    description,
                    json.dumps(transform) if transform is not None else None,
                    transform is not None,
                    json.dumps(new_meta),
                    namespace,
                    name,
                ),
            )

    def set_value_schema(self, namespace: str, name: str, schema_json: str) -> None:
        """Record the stored value column's Spark DataType (json form); of
        a transform, its output type.

        Internal bookkeeping written by the save path so reads can skip
        parquet schema inference, and by a transform's first load so later
        builds skip the type sample — deliberately does NOT bump the
        feature version (it's derived state, not a user-visible metadata
        change). A new transform clears it (``update_feature``).
        """
        con = self._con()
        with self._lock, con:
            con.execute(
                "UPDATE features SET value_schema = ? WHERE namespace = ? AND name = ?",
                (schema_json, namespace, name),
            )

    def delete_feature(self, namespace: str, name: str) -> None:
        con = self._con()
        with self._lock, con:
            cur = con.execute(
                "DELETE FROM features WHERE namespace = ? AND name = ?",
                (namespace, name),
            )
            if cur.rowcount == 0:
                raise MissingFeatureException(
                    f"Feature {namespace}/{name} does not exist"
                )

    def clone_feature(
        self, from_namespace: str, from_name: str, to_namespace: str, to_name: str
    ) -> dict[str, Any]:
        """Copy metadata minus identity/version (_model.py:167-180)."""
        src = self.get_feature(from_namespace, from_name)
        if src is None:
            raise MissingFeatureException(
                f"Feature {from_namespace}/{from_name} does not exist"
            )
        self.create_feature(
            to_namespace,
            to_name,
            description=src["description"],
            partition=src["partition"],
            serialized=src["serialized"],
            transform=src["transform"],
            meta=src["meta"],
        )
        if src.get("value_schema"):  # the data copy carries the same type
            self.set_value_schema(to_namespace, to_name, src["value_schema"])
        return src

    # ------------------------------------------------------------------

    @staticmethod
    def _ns_dict(row: sqlite3.Row) -> dict[str, Any]:
        d = {k: row[k] for k in _NS_FIELDS}
        d["storage_options"] = json.loads(d["storage_options"])
        d["meta"] = json.loads(d["meta"])
        return d

    @staticmethod
    def _ft_dict(row: sqlite3.Row) -> dict[str, Any]:
        d = {k: row[k] for k in _FT_FIELDS}
        d["serialized"] = bool(d["serialized"])
        d["meta"] = json.loads(d["meta"])
        d["transform"] = json.loads(d["transform"]) if d["transform"] else None
        return d
