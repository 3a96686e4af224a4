"""Mapnik Map-XML loader (sources/mapnik_xml): the reference's --map-file
surface (avecado_exporter.cpp:365, avecado_server.cpp:82) re-expressed for
the engine. Fixtures mirror the shapes of the reference's own test XMLs
(test/single_poly.xml inline-CSV layers, test/tilejson_params.xml
Parameters block)."""

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from avecado_spark.sources.mapnik_xml import (parse_map_xml,  # noqa: E402
                                              style_from_map,
                                              tilejson_from_map)

MERC = ("+proj=merc +a=6378137 +b=6378137 +lat_ts=0.0 +lon_0=0.0 "
        "+x_0=0.0 +y_0=0 +k=1.0 +units=m +nadgrids=@null +no_defs +over")

SINGLE_POLY = f"""<Map srs="{MERC}"
    maximum-extent="-20037508.34,-20037508.34,20037508.34,20037508.34">
  <Layer name="point" srs="{MERC}">
    <Datasource>
      <Parameter name="type">csv</Parameter>
      <Parameter name="inline">
id|name|wkt
1|null lake|POLYGON((-2000000 0,-1000000 1050000,1000000 1000000,2000000 0, -2000000 0), (-100000 0, 0 100000, 100000 0, -100000 0))
      </Parameter>
    </Datasource>
  </Layer>
</Map>"""

PARAMS_MAP = f"""<Map background-color="#000000" srs="{MERC}">
  <Parameters>
    <Parameter name="metatile">1</Parameter>
    <Parameter name="center">-75,40,11</Parameter>
    <Parameter name="bounds">-180,-85,180,85</Parameter>
    <Parameter name="maxzoom">16</Parameter>
    <Parameter name="minzoom">0</Parameter>
    <Parameter name="name"><![CDATA[MQ Carto Vector]]></Parameter>
    <Parameter name="maskLevel">10</Parameter>
  </Parameters>
</Map>"""

STYLED_MAP = f"""<Map background-color="#001122" srs="{MERC}">
  <Style name="water-style">
    <Rule>
      <PolygonSymbolizer fill="#0044cc" fill-opacity="0.5"/>
    </Rule>
  </Style>
  <Style name="road-style">
    <Rule>
      <Filter>[highway] = 'primary'</Filter>
      <LineSymbolizer stroke="#ffffff" stroke-width="3"/>
    </Rule>
    <Rule>
      <Filter>([highway] = 'secondary') or ([highway] = 'tertiary')</Filter>
      <LineSymbolizer stroke="#cccccc" stroke-width="1.5"/>
    </Rule>
  </Style>
  <Style name="poi-style">
    <Rule>
      <MarkersSymbolizer fill="#ffff00" width="10"/>
    </Rule>
  </Style>
  <Layer name="water"><StyleName>water-style</StyleName>
    <Datasource>
      <Parameter name="type">csv</Parameter>
      <Parameter name="inline">
id|wkt
1|POLYGON((-2000000 -2000000,2000000 -2000000,2000000 2000000,-2000000 2000000,-2000000 -2000000))
      </Parameter>
    </Datasource>
  </Layer>
  <Layer name="roads"><StyleName>road-style</StyleName></Layer>
  <Layer name="off-layer" status="off"><StyleName>poi-style</StyleName></Layer>
  <Layer name="pois"><StyleName>poi-style</StyleName></Layer>
</Map>"""


def test_parse_reference_shaped_layer_xml():
    doc = parse_map_xml(SINGLE_POLY)
    assert doc["background"] is None
    assert len(doc["layers"]) == 1
    lyr = doc["layers"][0]
    assert lyr["name"] == "point" and lyr["status"] == "on"
    assert lyr["header"] == ["id", "name", "wkt"]
    assert len(lyr["rows"]) == 1
    assert lyr["rows"][0]["name"] == "null lake"
    assert lyr["rows"][0]["wkt"].startswith("POLYGON((-2000000 0,")


def test_tilejson_from_map_reference_semantics():
    """tilejson.cpp:228-318: integer forcing, defaults, maskLevel,
    center/bounds arrays, vector_layers fields minus wkt."""
    doc = parse_map_xml(PARAMS_MAP)
    tj = json.loads(tilejson_from_map(doc, "http://tiles.example.com/v1"))
    assert tj["metatile"] == 1 and tj["maskLevel"] == 10
    assert tj["maxzoom"] == 16 and tj["minzoom"] == 0
    assert tj["center"] == [-75, 40, 11]
    assert tj["bounds"] == [-180, -85, 180, 85]
    assert tj["name"] == "MQ Carto Vector"
    assert tj["format"] == "pbf" and tj["scheme"] == "xyz"
    assert tj["tilejson"] == "2.0.0" and tj["private"] is True
    assert tj["tiles"] == ["http://tiles.example.com/v1/{z}/{x}/{y}.pbf"]

    # defaults + maskLevel→maxzoom fallback when Parameters absent
    tj2 = json.loads(tilejson_from_map(parse_map_xml(SINGLE_POLY), "u"))
    assert tj2["maxzoom"] == 0 and tj2["maskLevel"] == 0
    assert tj2["name"] == "Avecado Development Server"
    assert tj2["vector_layers"] == [
        {"id": "point", "description": "", "fields": {"id": "", "name": ""}}]

    # string2int failure is loud (force_integer, tilejson.cpp:182-208)
    bad = parse_map_xml(PARAMS_MAP.replace(
        '<Parameter name="maxzoom">16</Parameter>',
        '<Parameter name="maxzoom">sixteen</Parameter>'))
    with pytest.raises(ValueError, match="as integer"):
        tilejson_from_map(bad, "u")


def test_style_from_map_rules_and_filters():
    doc = parse_map_xml(STYLED_MAP)
    style = style_from_map(doc)
    assert style["background"] == "#001122"
    entries = style["layers"]
    # off-layer excluded; draw order = layer document order
    assert [e["layer"] for e in entries] == ["water", "roads", "roads",
                                            "pois"]
    assert entries[0]["polygon"]["fill"] == "#0044cc80"   # opacity 0.5
    assert entries[1]["filter"] == {"key": "highway", "equals": "primary"}
    assert entries[1]["line"] == {"stroke": "#ffffff", "width": 3.0}
    assert entries[2]["filter"] == {"key": "highway",
                                    "in": ["secondary", "tertiary"]}
    assert entries[3]["point"] == {"fill": "#ffff00", "radius": 5.0}

    with pytest.raises(NotImplementedError, match="unsupported"):
        parse_map_xml(STYLED_MAP.replace(
            "[highway] = 'primary'", "[pop] &gt; 1000"))


def test_map_style_drives_the_styled_renderer():
    """End-to-end J5 from the file format: XML style → render_tile_styled
    (the water quadrant tile from the overzoom fixtures)."""
    from avecado_spark.operators.raster import render_tile_styled
    from tests.test_pyramid_raster import _overzoom_tile
    xml = f"""<Map background-color="#000000" srs="{MERC}">
      <Style name="s"><Rule><PolygonSymbolizer fill="#0000ff"/></Rule></Style>
      <Layer name="water"><StyleName>s</StyleName></Layer>
    </Map>"""
    style = style_from_map(parse_map_xml(xml))
    img = render_tile_styled(_overzoom_tile(), style)
    quad = img[:, :, 2] == 255
    assert quad[:128, 128:].all() and not quad[128:, :128].any()


def test_features_from_map_to_tile_build(spark):
    """XML inline-CSV layers → feature DataFrame → the feature encode:
    the reference's `--map-file` bulk-export path end to end."""
    from avecado_spark.operators.encode import build_feature_tiles
    from avecado_spark.sources.mapnik_xml import features_from_map

    doc = parse_map_xml(STYLED_MAP)
    feats = features_from_map(spark, doc, z=4)
    rows = feats.collect()
    assert len(rows) == 1                      # one CSV row (water)
    r = rows[0]
    assert r.layer == "water" and r.id == 1 and r.z == 4
    # keyed by the first WKT coordinate (-2e6, -2e6): west + south of the
    # z4 center tile boundary
    assert r.x == 7 and r.y == 8
    tiles = build_feature_tiles(feats).collect()
    assert len(tiles) == 1
    assert tiles[0].n_features >= 1 and len(tiles[0].tile_pbf) > 0


def test_tilejson_from_map_feeds_overzoom_fetch(spark):
    """XML Parameters → TileJSON → fetch_from_tilejson: the maxzoom=16 +
    maskLevel=10 document drives the distributed overzoom fetcher."""
    from avecado_spark.sources.fetch import fetch_from_tilejson

    doc = parse_map_xml(PARAMS_MAP)
    tj = tilejson_from_map(doc, "http://tiles.example.com/v1")
    coords = spark.createDataFrame([(18, 4, 4)], "z int, x long, y long")

    def opener(url, headers):
        # executor-side closure: observe the URL via the payload (driver
        # lists don't round-trip out of mapInPandas)
        return 200, url.encode("utf-8"), {}

    out = fetch_from_tilejson(coords, tj, opener=opener).collect()
    assert len(out) == 1
    # z18 request shifted to the document's maxzoom=16: x,y >> 2
    assert (out[0].served_z, out[0].served_x, out[0].served_y) == (16, 1, 1)
    assert bytes(out[0].tile_pbf) == b"http://tiles.example.com/v1/16/1/1.pbf"


def test_features_from_map_bad_wkt_raises(spark):
    """A CSV row whose WKT lacks a numeric coordinate pair (POINT EMPTY,
    malformed cell) must fail with a clear error naming the layer/row, not
    an AttributeError on the regex match (r04 advisor)."""
    import pytest

    from avecado_spark.sources.mapnik_xml import features_from_map

    doc = {"layers": [{"name": "broken", "status": "on",
                       "rows": [{"id": "1", "wkt": "POINT EMPTY"}]}]}
    with pytest.raises(ValueError, match="broken.*row 0.*POINT EMPTY"):
        features_from_map(spark, doc, z=4)
