"""Catalog binding: every table root is an IcebergLite warehouse.

The write/read/maintenance paths in ``plans/`` and ``jobs/`` resolve
their catalog here, so the table format has one construction point. A
root is a plain filesystem path; a URI root (``scheme://...``) is
rejected instead of being treated as a relative directory name.
"""

from __future__ import annotations

from pyreshaper_spark.sources.iceberglite import IcebergLite


def get_catalog(root: str) -> IcebergLite:
    """The IcebergLite catalog over the warehouse directory ``root``."""
    if "://" in root:
        raise ValueError(
            f"catalog root must be a plain filesystem path, got {root!r}"
        )
    return IcebergLite(root)
