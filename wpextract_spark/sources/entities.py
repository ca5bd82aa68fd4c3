"""WP-API entity sources: JSON dumps -> typed Spark DataFrames.

The reference loads each entity dump with ``pd.json_normalize`` and later
projects to a fixed export schema via ``df.columns.intersection(EXPORT_COLUMNS)``
(``extractors/io.py:30-53``; projections at e.g. ``posts.py:132``). Presence of
an export key in the output therefore depends on presence in the *input* — we
reproduce that exactly by deriving the column set driver-side from the same
flattening, then shipping only the needed columns to Spark with declared types.

Entity dumps are site *metadata* (small by construction — thousands of rows per
site, not billions), so the driver parses each one; the heavyweight work (HTML
parsing, text extraction, locale) happens in distributed Arrow-batched stages
afterwards. A multiLine JSON file is a single input split, so an executor-side
``spark.read.json`` would not parse it in parallel either, and it would only
approximate json_normalize's first-seen column order.

Column names are "safe-named" for Spark (``.`` -> ``__``); the dotted names are
restored at export by the parity sink.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

#: Ingest-order column carried through the whole pipeline: Spark gives no free
#: row order (SURVEY.md §2.5 A5), the reference preserves input order.
ORD = "_ord"


def safe(name: str) -> str:
    return name.replace(".", "__")


# Reference export schemas (EXPORT_COLUMNS / RENAME_COLUMNS per entity module).
POSTS_EXPORT = [
    "author", "categories", "comment_status", "content.rendered", "content.text",
    "date_gmt", "embeds", "excerpt.rendered", "excerpt.text", "featured_media",
    "images", "language", "link", "link_locale", "links.external", "links.internal",
    "modified_gmt", "og_image_url", "slug", "status", "sticky", "tags",
    "title.rendered", "title.text", "translations", "yoast_head_json.title",
]
POSTS_RENAME = {
    "title.rendered": "title.html",
    "content.rendered": "content.html",
    "excerpt.rendered": "excerpt.html",
    "yoast_head_json.title": "page_title",
}

PAGES_EXPORT = [
    "author", "content.rendered", "content.text", "date_gmt", "embeds",
    "excerpt.rendered", "excerpt.text", "featured_media", "images", "link",
    "link_locale", "links.external", "links.internal", "modified_gmt", "parent",
    "slug", "template", "title.rendered", "yoast_head_json.title",
]
PAGES_RENAME = {
    "content.rendered": "content.html",
    "title.rendered": "title.html",
    "excerpt.rendered": "excerpt.html",
    "yoast_head_json.title": "page_title",
}

MEDIA_EXPORT = [
    "alt_text", "author", "caption.rendered", "caption.text", "date_gmt",
    "description.rendered", "description.text", "guid.rendered",
    "media_details.bitrate", "media_details.file",
    "media_details.image_meta.camera", "media_details.image_meta.created_timestamp",
    "media_details.image_meta.credit", "media_details.image_meta.focal_length",
    "media_details.image_meta.iso", "media_details.image_meta.orientation",
    "media_details.length", "media_details.mime_type", "media_details.original_image",
    "media_details.parent_image.attachment_id", "media_type", "mime_type",
    "modified_gmt", "post", "slug", "source_url", "title.rendered", "title.text",
    "yoast_head_json.og_url", "yoast_head_json.title",
]
MEDIA_RENAME = {
    "caption.rendered": "caption.html",
    "description.rendered": "description.html",
    "guid.rendered": "guid",
    "post": "post_id",
    "title.rendered": "title.html",
    "yoast_head_json.title": "page_title",
    "media_details.parent_image.attachment_id": "parent_image_id",
    "yoast_head_json.og_url": "og_url",
}

TAGS_EXPORT = ["count", "description", "link", "link_locale", "name", "slug"]
CATEGORIES_EXPORT = ["name", "slug", "description", "count", "link", "link_locale", "parent"]
USERS_EXPORT = ["avatar", "description", "link", "name", "slug", "url"]

#: Columns with known types regardless of observed data.
_TYPE_HINTS: dict[str, Any] = {
    "id": LongType(),
    "author": LongType(),
    "featured_media": LongType(),
    "parent": LongType(),
    "count": LongType(),
    "post": LongType(),
    "menu_order": LongType(),
    "media_details.parent_image.attachment_id": LongType(),
    "media_details.width": LongType(),
    "media_details.height": LongType(),
    "sticky": BooleanType(),
    "categories": ArrayType(LongType()),
    "tags": ArrayType(LongType()),
    "date_gmt": TimestampNTZType(),
    "modified_gmt": TimestampNTZType(),
}


def _infer_type(series: pd.Series, dotted: str):
    if dotted in _TYPE_HINTS:
        return _TYPE_HINTS[dotted]
    sample = next((v for v in series if v is not None and not _is_nan(v)), None)
    if isinstance(sample, bool):
        return BooleanType()
    if isinstance(sample, int):
        return LongType()
    if isinstance(sample, float):
        return DoubleType()
    return StringType()


def _is_nan(value: Any) -> bool:
    return isinstance(value, float) and math.isnan(value)


def _clean(value: Any, dtype) -> Any:
    if value is None or _is_nan(value) or value is pd.NA:
        return None
    if isinstance(dtype, TimestampNTZType):
        return pd.Timestamp(value).to_pydatetime()
    if isinstance(dtype, LongType):
        return int(value)
    if isinstance(dtype, DoubleType):
        return float(value)
    if isinstance(dtype, ArrayType):
        return [int(v) for v in value]
    if isinstance(dtype, BooleanType):
        return bool(value)
    return value


@dataclass
class EntityFrame:
    """A loaded entity: the Spark frame plus export bookkeeping."""

    name: str
    df: Optional[DataFrame]
    #: dotted input columns present (json_normalize order)
    present: list[str] = field(default_factory=list)
    #: dotted export column order (filled by the pipeline once derived
    #: columns are known)
    export_columns: list[str] = field(default_factory=list)
    rename: dict[str, str] = field(default_factory=dict)

    def has(self, dotted: str) -> bool:
        return dotted in self.present


def og_image_url(raw_value: Any) -> Optional[str]:
    """First og_image URL, reference semantics (``posts.py:89-96``,
    ``users.py:25-30``): missing, NaN or empty -> None."""
    if raw_value is None or _is_nan(raw_value) or len(raw_value) == 0:
        return None
    return raw_value[0]["url"]


def load_entity(
    spark: SparkSession,
    name: str,
    path: Path,
    needed: list[str],
    derive: Optional[dict[str, Any]] = None,
) -> EntityFrame:
    """Load one entity dump into a typed Spark DataFrame.

    Args:
        spark: the session.
        name: entity name (posts/pages/media/tags/categories/users).
        path: JSON file path (array of WP API records).
        needed: dotted columns to ship to Spark (subset of what exists is
            taken; missing ones are simply absent, like the reference).
        derive: extra string-typed columns computed driver-side from the
            flattened frame, ``{column_name: fn(flat_df) -> pd.Series}`` —
            used for O(1)-per-row scalar plucks whose presence-gating depends
            on the input column set (og_image_url, avatar).

    Returns:
        EntityFrame with ``df=None`` if the file is missing or empty
        (reference ``io.py:44-52``).
    """
    if not path.is_file():
        return EntityFrame(name=name, df=None)
    with open(path) as handle:
        raw = json.load(handle)
    if len(raw) == 0:
        return EntityFrame(name=name, df=None)

    flat = pd.json_normalize(raw)
    present = [str(c) for c in flat.columns]

    cols = [c for c in needed if c in flat.columns]
    if "id" not in cols:
        cols = ["id", *cols]

    fields = []
    dtypes = {}
    for dotted in cols:
        dtype = _infer_type(flat[dotted], dotted)
        dtypes[dotted] = dtype
        fields.append(StructField(safe(dotted), dtype, True))
    derived_series = {}
    for col_name, fn in (derive or {}).items():
        derived_series[col_name] = fn(flat)
        fields.append(StructField(safe(col_name), StringType(), True))
    fields.append(StructField(ORD, LongType(), False))
    schema = StructType(fields)

    rows = []
    for i in range(len(flat)):
        row = [_clean(flat[dotted].iloc[i], dtypes[dotted]) for dotted in cols]
        for col_name in derived_series:
            value = derived_series[col_name].iloc[i]
            row.append(None if value is None or _is_nan(value) else str(value))
        row.append(i)
        rows.append(tuple(row))

    df = spark.createDataFrame(rows, schema)
    return EntityFrame(name=name, df=df, present=present)
