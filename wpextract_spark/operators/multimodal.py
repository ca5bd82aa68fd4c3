"""Image columns: opaque binary payloads + typed per-image metadata.

Images are carried as ``binary`` columns; header sniffing, pixel statistics
and resize run as Arrow-batched stages over ``mapInPandas``. Image header
metadata (kernel/imagemeta.py) and PNG pixel decode and resize
(kernel/pngcodec.py zlib inflate + unfilter) are real — no codec library.
Corrupt or foreign payloads yield nulls instead of killing the task.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sniff_metadata(
    media: DataFrame,
    sniffer,
    fields: list[tuple[str, str | None]],
    schema: str,
    payload_col: str,
) -> DataFrame:
    """Shared header-sniffing wrapper: run ``sniffer(payload) -> tuple|None``
    per row, unpack the tuple into the named (nullable) columns.

    Corrupt/foreign payloads yield nulls (quarantine contract: sniffers never
    raise). Only header bytes are read — at crawl scale pair with a
    payload-prefix projection so metadata queries never materialize blobs.
    """

    def _sniff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            metas = [
                sniffer(bytes(b)) if b is not None else None
                for b in batch[payload_col]
            ]
            out = {"media_id": batch["media_id"], "kind": batch["kind"]}
            for idx, (name, dtype) in enumerate(fields):
                vals = [m[idx] if m else None for m in metas]
                out[name] = pd.array(vals, dtype=dtype) if dtype else vals
            yield pd.DataFrame(out)

    return media.mapInPandas(_sniff, schema)


def image_metadata(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Real (no-codec) image metadata: mime/width/height sniffed from
    PNG/GIF/JPEG header bytes (kernel/imagemeta.py)."""
    from wpextract_spark.kernel.imagemeta import sniff_image

    return _sniff_metadata(
        media,
        sniff_image,
        [("mime", None), ("width", "Int32"), ("height", "Int32")],
        "media_id long, kind string, mime string, width int, height int",
        payload_col,
    )


def png_pixel_stats(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL pixel decode for PNG payloads (kernel/pngcodec.py): zlib IDAT
    inflate + per-row unfilter, no codec library. Emits per-image pixel
    statistics; the sum is an exact integer so it crosses engines without
    representational ambiguity. Non-PNG / corrupt payloads yield nulls
    (quarantine contract)."""
    from wpextract_spark.kernel.pngcodec import pixel_stats

    return _sniff_metadata(
        media,
        pixel_stats,
        [
            ("width", "Int32"),
            ("height", "Int32"),
            ("channels", "Int32"),
            ("n_pixels", "Int64"),
            ("pixel_sum", "Int64"),
        ],
        "media_id long, kind string, width int, height int, channels int, "
        "n_pixels long, pixel_sum long",
        payload_col,
    )


def png_resize(
    media: DataFrame, width: int, height: int, payload_col: str = "payload"
) -> DataFrame:
    """REAL image resize for PNG payloads: decode -> nearest-neighbor index
    map -> re-encode (kernel/pngcodec.py). Undecodable payloads pass through
    as null payload rather than killing the task."""
    from wpextract_spark.kernel.pngcodec import resize_nearest

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "kind": batch["kind"],
                    "payload": batch[payload_col].map(
                        lambda b: resize_nearest(bytes(b), width, height)
                        if b is not None
                        else None
                    ),
                    "width": pd.array([width] * len(batch), dtype="Int32"),
                    "height": pd.array([height] * len(batch), dtype="Int32"),
                }
            )

    return media.mapInPandas(
        _run, "media_id long, kind string, payload binary, width int, height int"
    )


def gradient_image_build_udf():
    """doc_id -> deterministic gradient PNG (sources/imagegen.py) whose
    decoded pixel sum is SQL-restatable — the test/bench inverse of
    :func:`png_pixel_stats`."""
    from wpextract_spark.sources.imagegen import build_gradient_image

    @F.pandas_udf("binary")
    def _build(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [build_gradient_image(int(i))[3] for i in ids], dtype="object"
        )

    return _build


def image_build_udf():
    """doc_id -> deterministic PNG/GIF/JPEG payload (sources/imagegen.py).

    Test/bench-side inverse of :func:`image_metadata` — synthesizes the
    binary image column (sandbox rule: no external data)."""
    from wpextract_spark.sources.imagegen import build_image

    @F.pandas_udf("binary")
    def _build(ids: pd.Series) -> pd.Series:
        return pd.Series([build_image(int(i))[3] for i in ids], dtype="object")

    return _build
