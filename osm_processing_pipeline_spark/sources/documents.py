"""Interleaved text+media document codec — the engine's canonical input.

Per the input contract, entities live in an Iceberg-style table
``documents(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``
mixing text spans (tags, captions, geometry, node refs) with media spans
(image refs, raster tiles).  This module encodes the synthetic world's roads
into such documents and parses them back into relational form — all with pure
Catalyst array expressions (no Python).

Span layout for a way document (interleaving varies per doc, mirroring how
osm2pgsql's Lua callbacks see mixed tag/node content per entity,
Lua3_RouteProcessing_with_curvature.lua:206-292):

  tag:highway=..., [tag:ref=...], [tag:lanes=...], caption, node_ref x nv,
  geometry (quantized int lon,lat pairs — exact binary-fraction round-trip),
  [image media span when a % 5 == 0]

The **span-sequence invariant** (kind, text, media_ref, order preserved for
every surviving document — the analogue of the reference's tag-merging PBF
writer, scripts/write_tags_to_pbf_2.py:181-199) is enforced by
``assert_span_equality`` and tested in tests/test_spans.py: computed features
ride in new top-level columns, never by rewriting spans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import worldspec as W

L = F.lit

_SPAN_T = "struct<kind:string,text:string,media_ref:string>"


def _span(kind: str, text: Column, media_ref: Column | None = None) -> Column:
    return F.struct(
        L(kind).alias("kind"),
        text.alias("text"),
        (media_ref if media_ref is not None else L(None).cast("string")).alias("media_ref"),
    )


def _opt_tag(key: str, val: Column) -> Column:
    return F.when(val.isNotNull(),
                  _span("tag", F.concat(L(key + "="), val))).cast(_SPAN_T)


def encode_road_documents(roads: DataFrame) -> DataFrame:
    """roads (datagen/world.roads) -> documents(doc_id, spans)."""
    head = F.array(
        _opt_tag("highway", F.col("highway")),
        _opt_tag("ref", F.col("ref")),
        _opt_tag("lanes", F.col("lanes")),
        _span("caption",
              F.concat(L("way "), F.col("osm_id").cast("string"),
                       L(" with "), F.col("nv").cast("string"), L(" vertices")))
        .cast(_SPAN_T),
    )
    node_spans = F.transform(
        F.col("vertices"),
        lambda v: _span("node_ref", v["node_id"].cast("string")))
    geom_text = F.array_join(
        F.transform(
            F.col("vertices"),
            lambda v: F.concat(
                F.round(v["lon"] * L(float(W.COORD_Q))).cast("long").cast("string"),
                L(","),
                F.round(v["lat"] * L(float(W.COORD_Q))).cast("long").cast("string"))),
        ";")
    tail = F.array(
        _span("geometry", geom_text).cast(_SPAN_T),
        F.when(F.col("a") % 5 == 0,
               _span("image", L(None).cast("string"),
                     F.concat(L("img/"), F.col("osm_id").cast("string")))).cast(_SPAN_T),
    )
    raw = F.filter(F.concat(head, node_spans, tail), lambda s: s.isNotNull())
    spans = F.transform(
        raw,
        lambda s, i: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"), i.cast("int").alias("offset")))
    return roads.select(
        F.concat(L("way/"), F.col("osm_id").cast("string")).alias("doc_id"),
        spans.alias("spans"),
    )


def _tag_value(key: str) -> Column:
    """Extract 'key=value' tag text from spans -> value (NULL if absent)."""
    hits = F.filter(
        F.col("spans"),
        lambda s: (s["kind"] == "tag") & s["text"].startswith(key + "="))
    return F.when(F.size(hits) > 0,
                  F.substring_index(F.element_at(hits, 1)["text"], "=", -1))


def parse_road_documents(docs: DataFrame) -> DataFrame:
    """documents -> relational road view (doc_id kept; spans kept untouched
    so downstream writers can re-emit them byte-identical)."""
    geom = F.element_at(
        F.filter(F.col("spans"), lambda s: s["kind"] == "geometry"), 1)["text"]
    verts = F.transform(
        F.split(geom, ";"),
        lambda p, i: F.struct(
            i.cast("int").alias("seq"),
            (F.split(p, ",")[0].cast("long").cast("double") / L(float(W.COORD_Q))).alias("lon"),
            (F.split(p, ",")[1].cast("long").cast("double") / L(float(W.COORD_Q))).alias("lat"),
        ))
    node_refs = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] == "node_ref"),
        lambda s: s["text"].cast("long"))
    imgs = F.filter(F.col("spans"), lambda s: s["kind"] == "image")
    return docs.select(
        "doc_id", "spans",
        F.split(F.col("doc_id"), "/")[1].cast("long").alias("osm_id"),
        _tag_value("highway").alias("highway"),
        _tag_value("ref").alias("ref"),
        _tag_value("lanes").alias("lanes"),
        verts.alias("vertices"),
        node_refs.alias("node_refs"),
        (F.size(imgs) > 0).alias("has_image"),
        F.transform(imgs, lambda s: s["media_ref"]).alias("media_refs"),
        F.size("spans").alias("n_spans"),
    )


def assert_span_equality(inp: DataFrame, out: DataFrame) -> DataFrame:
    """Rows where the span sequence was NOT preserved (must be empty).
    Compares (kind, text, media_ref, offset) arrays structurally."""
    a = inp.select("doc_id", F.col("spans").alias("spans_in"))
    b = out.select("doc_id", F.col("spans").alias("spans_out"))
    j = a.join(b, "doc_id", "full")
    bad = (
        F.col("spans_in").isNull() | F.col("spans_out").isNull()
        | (F.col("spans_in") != F.col("spans_out"))
    )
    return j.filter(bad)
