"""Access-mode errors and warnings mirroring the reference semantics.

The reference enforces a strict read/write asymmetry: read-side mappings
raise ``ReadOnlyError`` on mutation (``/root/reference/heparchy/read/hdf.py:49-53``)
and write-side property getters raise ``WriteOnlyError``
(``/root/reference/heparchy/write/hdf.py:51-58``); overwriting an existing
dataset warns with ``OverwriteWarning`` (``write/hdf.py:57-60,75-77``).
``SchemaDriftError`` is this port's own: an input table whose file schema
differs from its declaration (``queries/tables.py``), and
``EnvOverrideError`` an environment override the engine cannot parse.
"""

from __future__ import annotations

__all__ = [
    "ReadOnlyError",
    "WriteOnlyError",
    "OverwriteWarning",
    "SchemaDriftError",
    "EnvOverrideError",
]


class ReadOnlyError(RuntimeError):
    """Raised when mutating data via a read-only interface."""


class WriteOnlyError(RuntimeError):
    """Raised when reading data via a write-only interface."""


class OverwriteWarning(RuntimeWarning):
    """Warns when existing data is about to be overwritten."""


class SchemaDriftError(ValueError):
    """Raised when a table's file schema (column names, order or types)
    differs from the schema declared for it."""


class EnvOverrideError(ValueError):
    """Raised when an environment override holds a malformed value; the
    message names the variable."""
