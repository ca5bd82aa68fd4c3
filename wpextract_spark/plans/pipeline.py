"""The site-extraction pipeline (reference lifecycle ``extract.py:72-157``).

Stage order and dataflow mirror the reference: crawl scrape -> entity loads
(media, posts, pages, tags, categories, users) -> registry build -> resolution
(links, then translations resolve -> symmetrize -> resolve). Each stage is
declarative DataFrame algebra + Arrow-batched kernel UDFs; the registry is
fully built before any resolution, exactly like the reference's dependency.

Every UDF runs once per record. Each entity frame is materialised with
``localCheckpoint`` right after its UDF projections, and posts once more
after resolution, so the registry build, the self-joins of symmetrization,
the export's ``_ord`` range-sort sampling and every sink read materialised
rows instead of re-deriving the kernel in each branch of the plan.

Scale shape: entity transforms are narrow (no shuffle); the scrape join is the
only big join (posts x pages-table on URL — AQE-planned, skew-splittable);
resolution probes a broadcast url -> destination map inside one narrow UDF
per span column, built from one collect of the deduplicated registry (one
row per site entity).
"""

from __future__ import annotations

from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wpextract_spark.kernel.translations import LangPicker
from wpextract_spark.operators.extract import (
    content_extract_udf,
    html_text_udf,
    locale_udf,
    translations_udf,
)
from wpextract_spark.operators.registry import build_registry, registry_contribution
from wpextract_spark.operators.resolve import (
    registry_map,
    resolve_span_array,
    symmetrize_translations,
)
from wpextract_spark.sinks.parity import export_entity_json_distributed
from wpextract_spark.sources.entities import (
    CATEGORIES_EXPORT,
    MEDIA_EXPORT,
    MEDIA_RENAME,
    PAGES_EXPORT,
    PAGES_RENAME,
    POSTS_EXPORT,
    POSTS_RENAME,
    TAGS_EXPORT,
    USERS_EXPORT,
    EntityFrame,
    load_entity,
    og_image_url,
    safe,
)
from wpextract_spark.sources.scrape import crawl_self_urls, load_scrape_dir

#: Derived (computed) columns per entity — everything else in the export
#: schema must come from the input dump.
_POSTS_DERIVED = {
    "content.text", "title.text", "excerpt.text", "og_image_url", "link_locale",
    "language", "translations", "links.internal", "links.external", "embeds", "images",
}
_PAGES_DERIVED = {
    "content.text", "excerpt.text", "link_locale",
    "links.internal", "links.external", "embeds", "images",
}
_MEDIA_DERIVED = {"caption.text", "description.text", "title.text"}
_SIMPLE_DERIVED = {"link_locale"}
_USERS_DERIVED = {"avatar"}

_CONTENT_FIELDS = {
    "content.text": "text",
    "links.internal": "links_internal",
    "links.external": "links_external",
    "embeds": "embeds",
    "images": "images",
}


def _raw_needed(export: list[str], derived: set[str]) -> list[str]:
    return [c for c in export if c not in derived]


def _export_order(ef: EntityFrame, export: list[str], derived_order: list[str]) -> list[str]:
    """Final export columns: input order filtered to the export set, then the
    derived columns in creation order (pandas column-append semantics)."""
    from_input = [c for c in ef.present if c in export and c not in derived_order]
    from_derived = [c for c in derived_order if c in export]
    return from_input + from_derived


def _apply_content_extract(df: DataFrame, html_col: str, url_col: str) -> DataFrame:
    df = df.withColumn("_content", content_extract_udf()(F.col(html_col), F.col(url_col)))
    for dotted, f_name in _CONTENT_FIELDS.items():
        df = df.withColumn(safe(dotted), F.col(f"_content.{f_name}"))
    return df.drop("_content")


class SparkSiteExtractor:
    """Distributed equivalent of the reference's ``WPExtractor``.

    Args:
        spark: the session.
        json_root: directory of WP-API entity dumps (posts.json, ...).
        scrape_root: optional directory of scraped HTML (the reference's
            scrape mirror). Mutually exclusive with ``scrape_pages``.
        scrape_pages: optional DataFrame of crawl pages; needs columns
            (html, <order_col>) — e.g. the Common-Crawl-style pages table.
        json_prefix: optional filename prefix for the dumps.
        translation_pickers: custom picker classes (plugin surface).
    """

    def __init__(
        self,
        spark: SparkSession,
        json_root: Path,
        scrape_root: Optional[Path] = None,
        scrape_pages: Optional[DataFrame] = None,
        json_prefix: Optional[str] = None,
        translation_pickers: Optional[list[type[LangPicker]]] = None,
    ) -> None:
        self.spark = spark
        self.json_root = Path(json_root)
        self.scrape_root = Path(scrape_root) if scrape_root else None
        self.scrape_pages = scrape_pages
        self.json_prefix = json_prefix
        self.translation_pickers = translation_pickers
        self.entities: dict[str, EntityFrame] = {}
        self.registry: Optional[DataFrame] = None

    # -- sources -----------------------------------------------------------

    def _json_name(self, file_name: str) -> str:
        """``<json_prefix>-<file_name>`` when a prefix is set: the one naming
        rule for both the input dumps and the exported JSON."""
        return f"{self.json_prefix}-{file_name}" if self.json_prefix else file_name

    def _path(self, file_name: str) -> Path:
        return self.json_root / self._json_name(file_name)

    def _scrape_url_map(self) -> Optional[DataFrame]:
        if self.scrape_pages is not None:
            pages = self.scrape_pages
            order_col = "path" if "path" in pages.columns else pages.columns[0]
        elif self.scrape_root is not None:
            pages = load_scrape_dir(self.spark, str(self.scrape_root))
            order_col = "path"
        else:
            return None
        return crawl_self_urls(pages, order_col=order_col)

    # -- per-entity pipelines ------------------------------------------------

    def _load_media(self) -> EntityFrame:
        ef = load_entity(
            self.spark, "media", self._path("media.json"),
            _raw_needed(MEDIA_EXPORT, _MEDIA_DERIVED),
        )
        ef.rename = dict(MEDIA_RENAME)
        if ef.df is None:
            return ef
        text = html_text_udf()
        df = ef.df
        if ef.has("description.rendered"):
            df = df.withColumn(safe("description.text"), text(F.col(safe("description.rendered"))))
            # An empty attachment description extracts to "\n" — forced to ""
            # (reference media.py:87).
            df = df.withColumn(
                safe("description.text"),
                F.when(F.col(safe("description.text")) == "\n", "").otherwise(
                    F.col(safe("description.text"))
                ),
            )
        if ef.has("caption.rendered"):
            df = df.withColumn(safe("caption.text"), text(F.col(safe("caption.rendered"))))
        if ef.has("title.rendered"):
            df = df.withColumn(safe("title.text"), text(F.col(safe("title.rendered"))))
        ef.df = df
        derived = [c for c in ("description.text", "caption.text", "title.text") if ef.has(c.replace(".text", ".rendered"))]
        ef.export_columns = _export_order(ef, MEDIA_EXPORT, derived)
        return ef

    def _load_posts(self, url_map: Optional[DataFrame]) -> EntityFrame:
        ef = load_entity(
            self.spark, "posts", self._path("posts.json"),
            _raw_needed(POSTS_EXPORT, _POSTS_DERIVED),
            derive={
                "og_image_url": lambda flat: (
                    flat["yoast_head_json.og_image"].apply(lambda v: og_image_url(v, True))
                    if "yoast_head_json.title" in flat.columns
                    and "yoast_head_json.og_image" in flat.columns
                    else flat["id"].apply(lambda _: None)
                )
            },
            derive_expr={
                "og_image_url": lambda raw, present: (
                    F.when(
                        F.size(F.col("yoast_head_json.og_image")) >= 1,
                        F.col("yoast_head_json.og_image")[0]["url"],
                    )
                    if "yoast_head_json.title" in present
                    and "yoast_head_json.og_image" in present
                    else F.lit(None)
                )
            },
        )
        ef.rename = dict(POSTS_RENAME)
        if ef.df is None:
            return ef
        df = ef.df
        text = html_text_udf()
        df = df.withColumn(safe("link_locale"), locale_udf()(F.col("link")))
        if ef.has("title.rendered"):
            df = df.withColumn(safe("title.text"), text(F.col(safe("title.rendered"))))
        if ef.has("excerpt.rendered"):
            df = df.withColumn(safe("excerpt.text"), text(F.col(safe("excerpt.rendered"))))

        translations_enabled = url_map is not None
        if translations_enabled:
            joined = df.join(
                url_map.withColumnRenamed("url", "_scrape_url").withColumnRenamed("html", "_scrape_html"),
                df["link"] == F.col("_scrape_url"),
                "left",
            )
            trans = translations_udf(self.translation_pickers)
            joined = joined.withColumn("_trans", trans(F.col("_scrape_html"), F.col("link")))
            df = (
                joined.withColumn("language", F.col("_trans.language"))
                .withColumn("translations", F.col("_trans.translations"))
                .drop("_trans", "_scrape_url", "_scrape_html")
            )

        df = _apply_content_extract(df, safe("content.rendered"), "link")
        ef.df = df
        # title.text/excerpt.text only exist when the *.rendered inputs do
        # (same schema-presence gate as _load_media's derived list).
        derived = ["og_image_url", "link_locale"] + [
            c for c in ("title.text", "excerpt.text")
            if ef.has(c.replace(".text", ".rendered"))
        ]
        if translations_enabled:
            derived += ["language", "translations"]
        derived += ["content.text", "links.internal", "links.external", "embeds", "images"]
        ef.export_columns = _export_order(ef, POSTS_EXPORT, derived)
        return ef

    def _load_pages(self) -> EntityFrame:
        ef = load_entity(
            self.spark, "pages", self._path("pages.json"),
            _raw_needed(PAGES_EXPORT, _PAGES_DERIVED),
        )
        ef.rename = dict(PAGES_RENAME)
        if ef.df is None:
            return ef
        df = ef.df
        text = html_text_udf()
        df = df.withColumn(safe("link_locale"), locale_udf()(F.col("link")))
        if ef.has("excerpt.rendered"):
            df = df.withColumn(safe("excerpt.text"), text(F.col(safe("excerpt.rendered"))))
        df = _apply_content_extract(df, safe("content.rendered"), "link")
        ef.df = df
        derived = ["link_locale"] + (
            ["excerpt.text"] if ef.has("excerpt.rendered") else []
        ) + ["content.text", "links.internal", "links.external", "embeds", "images"]
        ef.export_columns = _export_order(ef, PAGES_EXPORT, derived)
        return ef

    def _load_simple(self, name: str, export: list[str]) -> EntityFrame:
        ef = load_entity(
            self.spark, name, self._path(f"{name}.json"),
            _raw_needed(export, _SIMPLE_DERIVED),
        )
        if ef.df is None:
            return ef
        df = ef.df
        if name == "categories" and ef.has("parent"):
            # parent 0 -> null (reference categories.py:40)
            df = df.withColumn("parent", F.nullif(F.col("parent"), F.lit(0)))
        df = df.withColumn(safe("link_locale"), locale_udf()(F.col("link")))
        ef.df = df
        ef.export_columns = _export_order(ef, export, ["link_locale"])
        return ef

    def _load_users(self) -> EntityFrame:
        ef = load_entity(
            self.spark, "users", self._path("users.json"),
            _raw_needed(USERS_EXPORT, _USERS_DERIVED),
            derive={
                "avatar": lambda flat: (
                    flat["yoast_head_json.og_image"].apply(lambda v: og_image_url(v, False))
                    if "yoast_head_json.og_image" in flat.columns
                    else flat["id"].apply(lambda _: None)
                )
            },
            derive_expr={
                "avatar": lambda raw, present: (
                    F.when(
                        F.size(F.col("yoast_head_json.og_image")) >= 1,
                        F.col("yoast_head_json.og_image")[0]["url"],
                    )
                    if "yoast_head_json.og_image" in present
                    else F.lit(None)
                )
            },
        )
        if ef.df is None:
            return ef
        ef.export_columns = _export_order(ef, USERS_EXPORT, ["avatar"])
        return ef

    # -- lifecycle -----------------------------------------------------------

    def extract(self) -> "SparkSiteExtractor":
        """Run the full pipeline; entity DataFrames land in ``self.entities``."""
        url_map = self._scrape_url_map()

        media = self._load_media()
        posts = self._load_posts(url_map)
        pages = self._load_pages()
        tags = self._load_simple("tags", TAGS_EXPORT)
        categories = self._load_simple("categories", CATEGORIES_EXPORT)
        users = self._load_users()
        entities = {
            "media": media, "posts": posts, "pages": pages,
            "tags": tags, "categories": categories, "users": users,
        }
        # Materialise once: no later join branch or sink re-runs the UDFs.
        for ef in entities.values():
            if ef.df is not None:
                ef.df = ef.df.localCheckpoint()

        # Registry: insertion order media -> posts -> pages -> tags ->
        # categories; duplicates resolve last-wins (reference links.py:85-89).
        contributions = []
        if media.df is not None and media.has("source_url"):
            contributions.append(registry_contribution(media.df, "source_url", "media", 0))
        if posts.df is not None:
            contributions.append(registry_contribution(posts.df, "link", "post", 1))
        if pages.df is not None:
            contributions.append(registry_contribution(pages.df, "link", "pages", 2))
        if tags.df is not None:
            contributions.append(registry_contribution(tags.df, "link", "tag", 3))
        if categories.df is not None:
            contributions.append(registry_contribution(categories.df, "link", "category", 4))
        self.registry = build_registry(contributions) if contributions else None

        # Resolution: after ALL entities are registered (reference
        # extract.py:135-142); posts links, then translations x2 around
        # symmetrization. Images deliberately stay unresolved (J4 parity).
        if posts.df is not None and self.registry is not None:
            index = registry_map(self.registry)
            df = resolve_span_array(posts.df, safe("links.internal"), index)
            if "translations" in df.columns:
                df = resolve_span_array(df, "translations", index)
                df = symmetrize_translations(df)
                df = resolve_span_array(df, "translations", index)
            posts.df = df.localCheckpoint()

        self.entities = entities
        return self

    def export(self, out_dir: Path) -> dict[str, int]:
        """Write reference-format JSON per entity (rendered on the executors,
        see ``sinks/parity.py::export_entity_json_distributed``); returns row
        counts. For bulk output use :meth:`export_tables`."""
        out_dir = Path(out_dir)
        out_dir.mkdir(parents=True, exist_ok=True)
        return {
            name: export_entity_json_distributed(
                ef.df, ef.export_columns, ef.rename, out_dir / self._json_name(f"{name}.json")
            )
            for name, ef in self.entities.items()
        }

    # Alias kept because perfbench's site_extract workload calls, and its
    # tracer patches, the export under this name.
    export_distributed = export

    def export_tables(self, out_dir: Path) -> dict[str, int]:
        """Scale sink: one parquet table per entity, nested span structs
        intact, written fully distributed (no driver serialization)."""
        out_dir = Path(out_dir)
        counts = {}
        for name, ef in self.entities.items():
            if ef.df is None:
                counts[name] = 0
                continue
            ef.df.write.mode("overwrite").parquet(str(out_dir / name))
            counts[name] = self.spark.read.parquet(str(out_dir / name)).count()
        return counts
