"""In-memory VersionTracker (reference: core/.../InMemoryVersionTracker.scala:17-106).

A dict guarded by a lock, with CAS-style validate-then-set semantics
standing in for the reference's ``RichRef.modifyEither``
(core/.../util/RichRef.scala:17-25).
"""

from __future__ import annotations

import threading
from typing import Dict, List, Tuple

from ..core.model import TableName
from ..core.ops import TableUpdate
from .base import TableState, UnknownTableError, VersionTracker


class InMemoryVersionTracker(VersionTracker):
    # the log holds the operation objects themselves and never parses a
    # path back, so any value (``/`` included) reads back as committed
    _logs_partition_paths = False

    def __init__(self) -> None:
        self._lock = threading.RLock()
        # table → (head commit id, [updates asc])
        self._state: Dict[TableName, Tuple[str, List[TableUpdate]]] = {}
        # table → {tag name → commit id}
        self._tags: Dict[TableName, Dict[str, str]] = {}

    def tables(self) -> List[TableName]:
        with self._lock:
            return sorted(self._state.keys())

    def table_state(self, table: TableName) -> TableState:
        with self._lock:
            if table not in self._state:
                raise UnknownTableError(table)
            head, updates = self._state[table]
            return TableState(head, tuple(updates))

    def _table_exists(self, table: TableName) -> bool:
        with self._lock:
            return table in self._state

    def _serialized_commit(self, table: TableName):
        # the state RLock makes optimistic check-then-append atomic
        # (RichRef.modifyEither parity, util/RichRef.scala:17-25)
        return self._lock

    def _create_table(self, table: TableName, init_update: TableUpdate, is_snapshot: bool) -> None:
        with self._lock:
            if table in self._state:
                return
            self._state[table] = (init_update.metadata.commit_id, [init_update])

    def _drop_table(self, table: TableName) -> None:
        with self._lock:
            del self._state[table]
            self._tags.pop(table, None)

    def _append_commit(self, table: TableName, update: TableUpdate) -> None:
        with self._lock:
            _, updates = self._state[table]
            updates.append(update)
            self._state[table] = (update.metadata.commit_id, updates)

    def _set_head(self, table: TableName, commit_id: str) -> None:
        with self._lock:
            _, updates = self._state[table]
            self._state[table] = (commit_id, updates)

    def _write_tag(self, table: TableName, name: str, commit_id: str) -> None:
        with self._lock:
            self._tags.setdefault(table, {})[name] = commit_id

    def _read_tags(self, table: TableName) -> Dict[str, str]:
        with self._lock:
            return dict(self._tags.get(table, {}))

    def _delete_tag(self, table: TableName, name: str) -> None:
        with self._lock:
            self._tags.get(table, {}).pop(name, None)
