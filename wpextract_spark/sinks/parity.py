"""Byte-parity JSON sink (reference ``extractors/io.py:90-182``).

Writes one JSON array per entity with the reference's exact formatting:
``indent=2``, ASCII escaping, NaN -> null, ``id`` first, dot-notation columns
re-nested into dicts, timestamps ISO-8601, external links WITHOUT a
``destination`` key (absent, not null — dataclass asdict semantics).

Records render on the executors (one shard per sorted partition, concatenated
by the driver in partition order). The bulk hand-off writes the same struct
schema straight to parquet (``SparkSiteExtractor.export_tables``,
``wpextract-spark extract --tables``).
"""

from __future__ import annotations

import math
from datetime import date, datetime
from pathlib import Path
from typing import Any, Optional

from pyspark.sql import DataFrame, Row

from wpextract_spark.sources.entities import ORD, safe


def _set_nested(record: dict, dotted: str, value: Any) -> None:
    parts = dotted.split(".")
    current = record
    for key in parts[:-1]:
        current = current.setdefault(key, {})
    current[parts[-1]] = value


def _plain(value: Any) -> Any:
    """Spark value -> JSON-safe plain Python."""
    if value is None:
        return None
    if isinstance(value, Row):
        return {k: _plain(v) for k, v in value.asDict().items()}
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    if isinstance(value, (datetime, date)):
        return value.isoformat()
    if isinstance(value, float) and math.isnan(value):
        return None
    return value


def _span_internal_link(row: Optional[Row]) -> Optional[dict]:
    if row is None:
        return None
    return {"text": row["text"], "href": row["href"], "destination": _plain(row["destination"])}


def _span_external_link(row: Optional[Row]) -> Optional[dict]:
    if row is None:
        return None
    # External links are plain Link dataclasses: no destination key at all.
    return {"text": row["text"], "href": row["href"]}


def _span_image(row: Optional[Row]) -> Optional[dict]:
    if row is None:
        return None
    out = {"src": row["src"], "alt": row["alt"], "caption": row["caption"]}
    if row["internal"]:
        # Only ResolvableMediaUse carries the destination slot.
        out["destination"] = _plain(row["destination"])
    return out


def _span_translation(row: Optional[Row]) -> Optional[dict]:
    if row is None:
        return None
    return {
        "text": row["text"],
        "href": row["href"],
        "destination": _plain(row["destination"]),
        "lang": row["lang"],
    }


#: Span columns that need key-dropping conversion rules.
_SPAN_CONVERTERS = {
    "links.internal": lambda arr: None if arr is None else [_span_internal_link(x) for x in arr],
    "links.external": lambda arr: None if arr is None else [_span_external_link(x) for x in arr],
    "images": lambda arr: None if arr is None else [_span_image(x) for x in arr],
    "translations": lambda arr: None if arr is None else [_span_translation(x) for x in arr],
}


def _render_record(
    row: Row, export_columns: list[str], rename: dict[str, str]
) -> dict[str, Any]:
    """One exported record: ``id`` first, then the export columns re-nested."""
    record: dict[str, Any] = {"id": _plain(row["id"])}
    for dotted in export_columns:
        value = row[safe(dotted)]
        converter = _SPAN_CONVERTERS.get(dotted)
        value = converter(value) if converter else _plain(value)
        _set_nested(record, rename.get(dotted, dotted), value)
    return record


def export_entity_json_distributed(
    df: Optional[DataFrame],
    export_columns: list[str],
    rename: dict[str, str],
    path: Path,
) -> int:
    """Write the entity as a reference-format JSON array, rendered on the
    EXECUTORS; returns the row count.

    Args:
        df: the final entity frame (safe-named columns + ``_ord``), or None
            for an absent entity (writes ``[]``, reference ``io.py:177-178``).
        export_columns: dotted column names, in output order (pre-rename).
        rename: dotted-name renames applied at export (RENAME_COLUMNS).
        path: destination file.

    The sort by ``_ord`` range-partitions the frame, so partition index order
    IS global row order; each partition renders its rows to a JSON fragment
    (``_render_record`` + ``json.dumps(indent=2)``, re-indented two spaces to
    sit inside the array) and writes one shard file. The driver then concatenates shard bytes in partition order —
    O(#partitions) metadata work instead of O(#rows) serialization. On a real
    cluster ``path`` must be shared storage (the executors write the shards).
    """
    if df is None:
        path.write_text("[]")
        return 0

    shard_dir = Path(str(path) + ".shards")
    shard_dir.mkdir(parents=True, exist_ok=True)
    # A previous crashed/concurrent export must never leak fragments into
    # this run's output: clear stale frags up front, and below the shard
    # list is derived from THIS job's collected (idx, count) pairs — never
    # from a directory glob.
    for stale in shard_dir.glob("part-*.frag*"):
        stale.unlink()
    cols = list(export_columns)
    ren = dict(rename)
    shard_path = str(shard_dir)

    def render_partition(idx, rows):
        import json as _json
        import os as _os
        import uuid as _uuid

        frags = [
            "  "
            + _json.dumps(
                _render_record(row, cols, ren), indent=2, allow_nan=False
            ).replace("\n", "\n  ")
            for row in rows
        ]
        if frags:
            shard = _os.path.join(shard_path, f"part-{idx:05d}.frag")
            # Attempt-unique temp + atomic rename: under task retry or
            # speculation the losing attempt's rename just overwrites with
            # byte-identical content — no torn or duplicated shards.
            tmp = f"{shard}.{_uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as handle:
                handle.write(",\n".join(frags))
            _os.replace(tmp, shard)
        yield (idx, len(frags))

    counts = dict(df.orderBy(ORD).rdd.mapPartitionsWithIndex(render_partition).collect())
    shards = [
        shard_dir / f"part-{idx:05d}.frag"
        for idx in sorted(counts)
        if counts[idx]
    ]
    with open(path, "w") as out:
        if not shards:
            out.write("[]")
        else:
            out.write("[\n")
            for i, shard in enumerate(shards):
                if i:
                    out.write(",\n")
                out.write(shard.read_text())
            out.write("\n]")
    for shard in shards:
        shard.unlink()
    shard_dir.rmdir()
    return sum(counts.values())
