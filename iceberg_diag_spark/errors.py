"""Error taxonomy mirroring the reference's exception surface
(icebergdiag/exceptions.py: session/catalog/table/request error
classes), adapted to the Spark engine: callers can catch one family
instead of parsing AnalysisException strings.
"""

from __future__ import annotations


class DiagError(Exception):
    """Base class for all engine errors."""


class CatalogBindError(DiagError):
    """Catalog probe failed (reference: ProviderError /
    EndpointConnectionError paths)."""


class DatabaseNotFound(DiagError):
    """Namespace does not exist (reference: DatabaseNotFound from
    Glue EntityNotFoundException)."""

    def __init__(self, database: str):
        self.database = database
        super().__init__(f"database not found: {database}")


class NoMatchingTables(DiagError):
    """A glob pattern matched nothing (reference: cli exits with a
    'no tables matched' message)."""

    def __init__(self, database: str, pattern: str):
        self.database = database
        self.pattern = pattern
        super().__init__(f"no tables match {pattern!r} in {database}")


class FilesNotFound(DiagError):
    """The --files path does not exist."""

    def __init__(self, path: str):
        self.path = path
        super().__init__(f"files relation not found: {path}")


class FilesSchemaError(DiagError):
    """The --files relation lacks a column the panel reads."""

    def __init__(self, path: str, missing: list[str]):
        self.path = path
        self.missing = missing
        super().__init__(
            f"files relation {path} lacks column(s): {', '.join(missing)}"
        )
