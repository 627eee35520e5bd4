"""EF-JSON ingest and parquet quad round-trips (reference test analogs:
tests/test_parsers.py:20-112, tests/test_resolvers.py:27-119)."""

import warnings

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.errors import MissingDataError
from htrc_feature_reader_spark.sources import (
    line_chars_from_ef,
    page_features_from_ef,
    read_ef_json,
    read_quad,
    section_features_from_ef,
    tokenlist_from_ef,
    volumes_from_ef,
    write_quad,
)


@pytest.fixture(scope="module")
def ef_raw(spark, tmp_path_factory):
    from htrc_feature_reader_spark.synth import write_ef_json_fixtures

    d = tmp_path_factory.mktemp("ef")
    write_ef_json_fixtures(str(d), n_volumes=3)
    return read_ef_json(spark, str(d)).cache()


def test_volumes_metadata(ef_raw):
    vols = volumes_from_ef(ef_raw).collect()
    assert len(vols) == 3
    v = {r["htid"]: r for r in vols}["syn.vol000"]
    assert v["pub_date"] == "1908"
    assert v["page_count"] == 10
    assert v["genre"] == ["fiction"]
    assert v["feature_schema_version"] == "3.0"


def test_tokenlist_explode_matches_fixture_dicts(ef_raw):
    """Exploded counts match the raw nested dicts exactly (the reference's
    _make_tokencount_df contract, parsers.py:342-382)."""
    from htrc_feature_reader_spark.synth import make_ef_volume_dict

    tl = tokenlist_from_ef(ef_raw)
    got = {
        (r["htid"], r["page"], r["section"], r["token"], r["pos"]): r["count"]
        for r in tl.collect()
    }
    expect = {}
    for v in range(3):
        vol = make_ef_volume_dict(f"syn.vol{v:03d}", n_pages=10 + v, seed=42 + v)
        for pg in vol["features"]["pages"]:
            for sec in ("header", "body", "footer"):
                block = pg[sec]
                if not block:
                    continue
                for tok, posmap in block["tokenPosCount"].items():
                    for pos, c in posmap.items():
                        vid = vol.get("htid") or vol["id"]
                        expect[(vid, int(pg["seq"]), sec, tok, pos)] = c
    assert got == expect


def test_zero_token_page_has_no_rows(ef_raw):
    tl = tokenlist_from_ef(ef_raw)
    assert tl.filter(F.col("page") == 2).count() == 0  # page 2 is the zero-token page


def test_section_features_invariant(ef_raw):
    """tokenCount per (page, section) equals the tokenlist sum for that
    (page, section) — FIXTURES.md T3 invariant."""
    sf = section_features_from_ef(ef_raw)
    tl = tokenlist_from_ef(ef_raw).groupBy("htid", "page", "section").agg(
        F.sum("count").alias("tlsum")
    )
    joined = sf.join(tl, on=["htid", "page", "section"], how="left").filter(
        F.col("tokenCount") > 0
    )
    assert joined.filter(F.col("tokenCount") != F.col("tlsum")).count() == 0


def test_line_chars_places(ef_raw):
    lc = line_chars_from_ef(ef_raw)
    places = {r["place"] for r in lc.select("place").distinct().collect()}
    assert places == {"begin", "end"}
    assert lc.filter(F.length("char") != 1).count() == 0


def test_page_features(ef_raw):
    pf = page_features_from_ef(ef_raw)
    r = pf.filter((F.col("htid") == "syn.vol000") & (F.col("page") == 1)).first()
    assert r["calculatedLanguage"] == "en"
    assert r["languages"] == [{"en": "1.00"}]


def test_quad_roundtrip_and_prefold(spark, ef_raw, tmp_path):
    tl = tokenlist_from_ef(ef_raw)
    total = tl.agg(F.sum("count")).first()[0]

    # full write + read back: counts conserved (the reference's round-trip
    # invariant, tests/test_resolvers.py:119)
    write_quad(str(tmp_path / "full"), tokenlist=tl,
               section_features=section_features_from_ef(ef_raw),
               line_chars=line_chars_from_ef(ef_raw),
               volumes=volumes_from_ef(ef_raw))
    back = read_quad(spark, str(tmp_path / "full"), "tokens")
    assert back.agg(F.sum("count")).first()[0] == total
    assert set(back.columns) == {"htid", "page", "section", "token", "pos", "count"}

    # pre-folded write drops columns but conserves counts
    write_quad(str(tmp_path / "partial"), tokenlist=tl,
               token_kwargs=dict(case=False, pos=False, section="group"))
    partial = read_quad(spark, str(tmp_path / "partial"), "tokens")
    assert set(partial.columns) == {"htid", "page", "lowercase", "count"}
    assert partial.agg(F.sum("count")).first()[0] == total

    # missing part raises MissingDataError (tests/test_parsers.py:20-75)
    with pytest.raises(MissingDataError):
        read_quad(spark, str(tmp_path / "partial"), "meta")


def test_quad_chunked_write(spark, ef_raw, tmp_path):
    tl = tokenlist_from_ef(ef_raw)
    write_quad(str(tmp_path / "chunked"), tokenlist=tl,
               chunk_kwargs=dict(chunk_target=150, section="group", case=False, pos=False))
    back = read_quad(spark, str(tmp_path / "chunked"), "tokens")
    assert "chunk" in back.columns and "page" not in back.columns
    assert back.agg(F.sum("count")).first()[0] == tl.agg(F.sum("count")).first()[0]


# ---------------------------------------------------------------------------
# Full metadata surface (S6): all three reference field maps
# (parsers.py:145-174) + `_ld` flattening (:220-242), era-dispatched.


def test_volumes_metadata_full_legacy(ef_raw):
    v = {r["htid"]: r for r in volumes_from_ef(ef_raw).collect()}["syn.vol000"]
    # METADATA_FIELDS
    assert v["metadata_schema_version"] == "1.3"
    assert v["enumeration_chronology"] == "v.1"
    assert v["type_of_resource"] == "text"
    assert v["date_created"] == "2016-06-19T02:14:20Z"
    assert v["isbn"] == ["0665034075"] and v["oclc"] == ["320127250"]
    assert v["issn"] == [] and v["lccn"] == []
    # METADATA_FIELDS_1_3
    assert v["ht_bib_url"].endswith("syn.vol000.json")
    assert v["handle_url"] == "http://hdl.example/2027/syn.vol000"
    assert v["imprint"] == "Synthetic Press, 1908."
    assert v["id"] == "syn.vol000"
    assert v["source_institution"] == "SYN"
    assert v["classification"] == {"ddc": ["813.52"]}
    assert v["issuance"] == "monographic"
    assert v["bibliographic_format"] == "BK"
    assert v["government_document"] is False
    assert v["hathitrust_record_number"] == "0000001"
    assert v["rights_attributes"] == "pd"
    assert v["pub_place"] == "onc"
    assert v["volume_identifier"] == "syn.vol000"
    assert v["source_institution_record_number"] == "2480325"
    assert v["last_update_date"] == "2010-04-29 20:31:43"
    # legacy genre passes through unmapped (mapping is LD-only, parsers.py:227-236)
    assert v["genre"] == ["fiction"]
    # LD-only columns are null in the legacy era
    for ld_col in ("access_rights", "contributor", "publisher", "lcc",
                   "genre_ld", "pub_place_ld", "source_institution_ld"):
        assert v[ld_col] is None, ld_col
    # lossless raw subtree
    import json as _json
    assert _json.loads(str(v["extra"]))["pubPlace"] == "onc"


@pytest.fixture(scope="module")
def ef_raw_ld(spark, tmp_path_factory):
    from htrc_feature_reader_spark.synth import write_ef_json_fixtures

    d = tmp_path_factory.mktemp("ef_ld")
    write_ef_json_fixtures(str(d), n_volumes=2, era="ld")
    return read_ef_json(spark, str(d)).cache()


def test_volumes_metadata_full_ld(ef_raw_ld):
    v = {r["htid"]: r for r in volumes_from_ef(ef_raw_ld).collect()}["syn.vol000"]
    assert v["metadata_schema_version"] == "2.0"
    assert v["feature_schema_version"].startswith("https://schemas.hathitrust.org/")
    assert v["pub_date"] == "1908"  # int in LD files, normalized to string
    assert v["access_rights"] == "pd"
    assert v["alternate_title"] == ["Alt syn.vol000"]  # scalar wrapped to list
    assert v["category"] == ["Literature", "Fiction"]
    # genre: LD URIs map through the LOC MARC genre-term table (utils.py:7)
    assert v["genre"] == ["novel", "fiction"]
    assert v["genre_ld"] == ["http://id.loc.gov/vocabulary/marcgt/nov",
                             "http://id.loc.gov/vocabulary/marcgt/fic"]
    # `_ld` flattening: entity objects contribute their name
    assert v["contributor"] == ["Synthetic, Author"]
    assert v["contributor_ld"][0]["type"] == "Person"
    assert v["publisher"] == "Synthetic Press"
    assert v["pub_place"] == "Ontario"
    assert v["source_institution"] == "SYN"
    assert v["source_institution_ld"]["type"] == "Organization"
    assert v["handle_url"] == "https://hdl.example/2027/syn.vol000"
    assert v["id"] == "syn.vol000"
    assert v["lcc"] == ["PR9199.3"]  # scalar wrapped to list
    assert v["type"] == ["DataFeedItem", "Book"]
    assert v["last_rights_update_date"] == "20200209"
    assert v["main_entity_of_page"] == ["https://catalog.example/syn.vol000"]
    assert v["oclc"] == ["320127250"]  # scalar wrapped to list
    import json as _json
    assert _json.loads(str(v["is_part_of"]))["title"] == "Synthetic Series"
    # legacy-only columns are null in the LD era
    for old_col in ("ht_bib_url", "imprint", "names", "issuance",
                    "government_document", "volume_identifier"):
        assert v[old_col] is None, old_col


def test_volumes_from_ef_ld_genre_lookup_is_not_deprecated(ef_raw_ld):
    """The LD genre lookup subscripts the MARC map with a Column key, the
    supported form: getItem with a Column key is deprecated in PySpark 4."""
    with warnings.catch_warnings():
        warnings.filterwarnings("error", message="A column as 'key' in getItem",
                                category=FutureWarning)
        vols = {r["htid"]: r for r in volumes_from_ef(ef_raw_ld).collect()}
    assert vols["syn.vol000"]["genre"] == ["novel", "fiction"]


def test_line_chars_era_key_dispatch(spark, tmp_path_factory):
    """The three per-era line-char key spellings (parsers.py:397-402) all
    land in the same (place, char, count) rows."""
    from htrc_feature_reader_spark.synth import write_ef_json_fixtures

    counts = {}
    for era in ("3.0", "ld", "2.0"):
        d = tmp_path_factory.mktemp(f"ef_{era.replace('.', '_')}")
        write_ef_json_fixtures(str(d), n_volumes=1, era=era)
        lc = line_chars_from_ef(read_ef_json(spark, str(d)))
        counts[era] = {
            (r["page"], r["section"], r["place"], r["char"]): r["count"]
            for r in lc.collect()
        }
    assert counts["3.0"] == counts["ld"] == counts["2.0"]
    assert len(counts["3.0"]) > 0
    assert {p for (_, _, p, _) in counts["3.0"]} == {"begin", "end"}


def test_schema_version_gate(spark, tmp_path_factory):
    from htrc_feature_reader_spark.sources import check_schema_versions
    from htrc_feature_reader_spark.sources.ef_json import UnsupportedSchemaVersion
    from htrc_feature_reader_spark.synth import write_ef_json_fixtures

    ok = tmp_path_factory.mktemp("ef_ok")
    write_ef_json_fixtures(str(ok), n_volumes=1, era="3.0")
    census = check_schema_versions(read_ef_json(spark, str(ok)),
                                   raise_on_unsupported=True).collect()
    assert [(r["schema_version"], r["n_volumes"]) for r in census] == [("3.0", 1)]

    bad = tmp_path_factory.mktemp("ef_bad")
    write_ef_json_fixtures(str(bad), n_volumes=1, era="2.0")
    with pytest.raises(UnsupportedSchemaVersion):
        read_ef_json(spark, str(bad), validate=True)


def test_sink_keeps_blank_pages_with_page_features(spark, tmp_path):
    """A page with page-features but zero tokens in any section must
    survive the sink (pageCount counts it; the sink is the inverse of
    page_features_from_ef)."""
    from pyspark.sql import functions as F

    from htrc_feature_reader_spark.sources.ef_json import (
        page_features_from_ef,
        read_ef_json,
    )
    from htrc_feature_reader_spark.sources.ef_json_sink import write_ef_json

    tl = spark.createDataFrame(
        [("v1", 1, "body", "tok", "UNK", 2)],
        "htid string, page long, section string, token string, pos string, count long",
    )
    pf = spark.createDataFrame(
        [("v1", 1, "vA", "eng"), ("v1", 2, "vA", "eng")],  # page 2 is blank
        "htid string, page long, version string, calculatedLanguage string",
    ).withColumn(
        "languages",
        F.array(F.create_map(F.lit("eng"), F.lit("1.0"))),
    )
    out = str(tmp_path / "blank")
    write_ef_json(out, tokenlist=tl, page_features=pf)
    raw = read_ef_json(spark, out)
    assert raw.select("features.pageCount").collect()[0][0] == 2
    back = page_features_from_ef(raw)
    rows = {r["page"]: r["version"] for r in back.collect()}
    assert rows == {1: "vA", 2: "vA"}
