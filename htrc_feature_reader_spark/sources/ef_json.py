"""EF-JSON ingest: nested volume JSON -> the engine's long tables.

Replaces the reference's hand-rolled parser
(/root/reference/htrc_features/parsers.py:192-250, 282-430 — a preallocated
structured numpy array per volume) with pure Catalyst ``explode`` plans over
``spark.read.json`` with an explicit schema:

- one scan reads any number of volumes (a whole corpus manifest) in one job,
- bz2/gz decompression is native to Spark's text codecs (the reference
  decompresses per-file in Python, resolvers.py:65-79),
- token counts come from ``explode(tokenPosCount)`` twice (token map, then
  pos map) — no Python executes per row,
- null sections (parsers.py:317-320 skips them) drop out for free: explode
  of a null map yields no rows.

The "~40x faster than dict parsing" trick the reference is proud of
(parsers.py:355-357) is subsumed by Spark's vectorized JSON reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import EF_JSON_SCHEMA, SECTIONS, SUPPORTED_SCHEMA_VERSIONS


class UnsupportedSchemaVersion(ValueError):
    """Raised by ``check_schema_versions(..., raise_on_unsupported=True)``."""


def read_ef_json(
    spark: SparkSession,
    paths: str | list[str],
    multiline: bool = False,
    validate: bool = False,
) -> DataFrame:
    """Read EF volume JSON file(s) with the explicit v3.0 schema.

    ``multiline=True`` for pretty-printed one-object-per-file volumes (the
    HathiTrust distribution format); False for NDJSON manifests.

    ``validate=True`` eagerly verifies every file's ``features.schemaVersion``
    against SUPPORTED_SCHEMA_VERSIONS and raises UnsupportedSchemaVersion on a
    mismatch (the reference warns per file, parsers.py:196-202). Default off:
    validation is a full-corpus action, which the caller should schedule
    explicitly at 100 TB rather than pay inside every read.
    """
    reader = spark.read.schema(EF_JSON_SCHEMA)
    if multiline:
        reader = reader.option("multiLine", "true")
    raw = reader.json(paths)
    # 'htid' (newer files) or 'id' (older) — parsers.py:244 equivalent
    raw = raw.withColumn("htid", F.coalesce(F.col("htid"), F.col("id")))
    if validate:
        check_schema_versions(raw, raise_on_unsupported=True)
    return raw


def check_schema_versions(raw: DataFrame, raise_on_unsupported: bool = False) -> DataFrame:
    """Distinct (schema_version, n_volumes) over the corpus — the distributed
    analogue of the reference's per-file version gate (parsers.py:196-202).

    One aggregate job; returns the version census. With
    ``raise_on_unsupported=True`` raises UnsupportedSchemaVersion if any
    volume carries a version outside SUPPORTED_SCHEMA_VERSIONS.
    """
    census = (
        raw.groupBy(F.col("features.schemaVersion").alias("schema_version"))
        .agg(F.count("*").alias("n_volumes"))
    )
    if raise_on_unsupported:
        bad = [
            (r["schema_version"], r["n_volumes"])
            for r in census.collect()
            if r["schema_version"] not in SUPPORTED_SCHEMA_VERSIONS
        ]
        if bad:
            raise UnsupportedSchemaVersion(
                f"unsupported EF schema versions {bad}; supported: "
                f"{SUPPORTED_SCHEMA_VERSIONS}"
            )
    return census


def _pages(raw: DataFrame) -> DataFrame:
    return raw.select(
        "htid", F.explode("features.pages").alias("pg")
    ).withColumn("page", F.col("pg.seq").cast("long"))


def tokenlist_from_ef(raw: DataFrame) -> DataFrame:
    """(htid, page, section, token, pos, count) — operator S2.

    Reference: _make_tokencount_df (parsers.py:342-382). The double explode
    unnests token -> {pos -> count} maps; output matches TOKENLIST_SCHEMA.

    Single-scan shape: the three sections become an array<struct> exploded
    in one pass — a per-section union would re-parse every JSON file three
    times (measured 3x ingest cost on the reference corpus).
    """
    pages = _pages(raw)
    sec_arr = F.array(*[
        F.struct(F.lit(sec).alias("section"),
                 F.col(f"pg.{sec}.tokenPosCount").alias("tpc"))
        for sec in SECTIONS
    ])
    return (
        pages.select("htid", "page", F.explode(sec_arr).alias("s"))
        .filter(F.col("s.tpc").isNotNull())
        .select("htid", "page", F.col("s.section").alias("section"),
                F.explode("s.tpc").alias("token", "posmap"))
        .select("htid", "page", "section", "token",
                F.explode("posmap").alias("pos", "count"))
    )


def section_features_from_ef(raw: DataFrame) -> DataFrame:
    """(htid, page, section, 5 scalar features) — operator S4.

    Reference: _make_section_feature_df (parsers.py:315-330); null sections
    are dropped, matching the reference's per-section skip.
    """
    pages = _pages(raw)
    sec_arr = F.array(*[
        F.struct(
            F.lit(sec).alias("section"),
            F.col(f"pg.{sec}").isNotNull().alias("present"),
            F.col(f"pg.{sec}.tokenCount").alias("tokenCount"),
            F.col(f"pg.{sec}.lineCount").alias("lineCount"),
            F.col(f"pg.{sec}.emptyLineCount").alias("emptyLineCount"),
            F.col(f"pg.{sec}.capAlphaSeq").alias("capAlphaSeq"),
            F.col(f"pg.{sec}.sentenceCount").alias("sentenceCount"),
        )
        for sec in SECTIONS
    ])
    return (
        pages.select("htid", "page", F.explode(sec_arr).alias("s"))
        .filter(F.col("s.present"))
        .select("htid", "page", F.col("s.section").alias("section"),
                F.col("s.tokenCount").alias("tokenCount"),
                F.col("s.lineCount").alias("lineCount"),
                F.col("s.emptyLineCount").alias("emptyLineCount"),
                F.col("s.capAlphaSeq").alias("capAlphaSeq"),
                F.col("s.sentenceCount").alias("sentenceCount"))
    )


def page_features_from_ef(raw: DataFrame) -> DataFrame:
    """Per-page scalars (htid, page, version, calculatedLanguage, languages)
    — operator S5 (parsers.py:304-313)."""
    return _pages(raw).select(
        "htid",
        "page",
        F.col("pg.version").alias("version"),
        F.col("pg.calculatedLanguage").alias("calculatedLanguage"),
        F.col("pg.languages").alias("languages"),
    )


def line_chars_from_ef(raw: DataFrame) -> DataFrame:
    """(htid, page, section, place, char, count) — operator S3.

    Reference: _make_line_char_df (parsers.py:384-429). The source key names
    are schema-version-dependent (parsers.py:397-402): '3.0' uses
    beginCharCounts/endCharCount, the URL schema beginCharCount/endCharCount,
    and <=2.0 beginLineChars/endLineChars. The dispatch is a constant-folded
    CASE on features.schemaVersion — still one scan for a mixed-era corpus.
    """
    ver = F.col("ver")
    pages = raw.select(
        "htid", F.col("features.schemaVersion").alias("ver"),
        F.explode("features.pages").alias("pg"),
    ).withColumn("page", F.col("pg.seq").cast("long"))

    def _cmap(sec: str, place: str):
        v30, url, old = {
            "begin": ("beginCharCounts", "beginCharCount", "beginLineChars"),
            "end": ("endCharCount", "endCharCount", "endLineChars"),
        }[place]
        return (
            F.when(ver == "3.0", F.col(f"pg.{sec}.{v30}"))
            .when(ver == "https://schemas.hathitrust.org/EF_Schema_FeaturesSubSchema_v_3.0",
                  F.col(f"pg.{sec}.{url}"))
            .otherwise(F.col(f"pg.{sec}.{old}"))
        )

    sec_arr = F.array(*[
        F.struct(F.lit(sec).alias("section"), F.lit(place).alias("place"),
                 _cmap(sec, place).alias("cmap"))
        for sec in SECTIONS
        for place in ("begin", "end")
    ])
    return (
        pages.select("htid", "page", F.explode(sec_arr).alias("s"))
        .filter(F.col("s.cmap").isNotNull())
        .select("htid", "page", F.col("s.section").alias("section"),
                F.col("s.place").alias("place"),
                F.explode("s.cmap").alias("char", "count"))
    )


# MARC genre-term URI -> label: the full LOC table the reference hardcodes
# (utils.py:7 LOC_MARCGT_REFERENCE, applied at parsers.py:232-236). Kept as a
# literal map expression — a broadcast-free constant-folded lookup.
_MARCGT = {
    "rev": "review", "atl": "atlas", "lan": "language instruction",
    "mot": "motion picture", "dra": "drama", "com": "computer program",
    "ins": "instruction", "his": "history", "fon": "font",
    "sur": "survey of literature", "art": "article", "num": "numeric data",
    "lec": "legal case and case notes", "han": "handbook", "map": "map",
    "sta": "statistics", "pro": "programmed text", "loo": "loose-leaf",
    "doc": "document (computer)", "reh": "rehearsal", "pos": "postcard",
    "fin": "finding aid", "mem": "memoir", "law": "law report or digest",
    "arr": "art reproduction", "rea": "realia", "ess": "essay",
    "aro": "art original", "lea": "legal article", "enc": "encyclopedia",
    "ser": "series", "stp": "standard or specification", "hum": "humor, satire",
    "vid": "videorecording", "wal": "wall map", "sli": "slide",
    "mic": "microscope slide", "off": "offprint", "dir": "directory",
    "rem": "remote sensing image", "man": "manuscript", "kit": "kit",
    "boo": "book", "gov": "government publication", "poe": "poetry",
    "rep": "representational", "web": "web site", "tra": "transparency",
    "inm": "interactive multimedia", "dio": "diorama", "iss": "issue",
    "puz": "puzzle", "pat": "patent", "leg": "legislation",
    "per": "periodical", "ons": "online system or service",
    "nos": "nonmusical sound", "fla": "flash card", "cal": "calendar",
    "yea": "yearbook", "scr": "script", "gra": "graphic", "new": "newspaper",
    "rpt": "reporting", "glo": "globe", "sho": "short story",
    "fol": "folktale", "dic": "dictionary", "fes": "festschrift",
    "gam": "game", "ind": "index", "toy": "toy",
    "cpb": "conference publication", "jou": "journal", "spe": "speech",
    "bib": "bibliography", "the": "thesis", "ter": "technical report",
    "dis": "discography", "dtb": "database", "fil": "filmography",
    "int": "interview", "sou": "sound", "bio": "biography",
    "abs": "abstract or summary", "pic": "picture", "cha": "chart",
    "fls": "filmstrip", "ted": "technical drawing", "mod": "model",
    "cat": "catalog", "cgn": "comic or graphic novel", "pla": "playing cards",
    "let": "letter", "cod": "comedy", "fic": "fiction",
    "bda": "bibliographic data", "aut": "autobiography", "nov": "novel",
    "tre": "treaty",
}
_MARCGT_PREFIX = "http://id.loc.gov/vocabulary/marcgt/"


def _genre_label(col):
    # the reference keys on everything after the 36-char prefix
    # (parsers.py:233: genre[36:])
    code = F.substring(col, len(_MARCGT_PREFIX) + 1, 100)
    mapping = F.create_map(*[F.lit(x) for kv in _MARCGT.items() for x in kv])
    label = mapping[code]
    return F.when(col.startswith(_MARCGT_PREFIX) & label.isNotNull(), label).otherwise(col)


_LD_ENTITY_DDL = "struct<id:string,name:string,type:string>"
_URL_SCHEMA = "https://schemas.hathitrust.org/EF_Schema_FeaturesSubSchema_v_3.0"


def _vg(field: str, ddl: str):
    """Typed extraction from the metadata variant; null on type mismatch."""
    return F.try_variant_get(F.col("metadata"), f"$.{field}", ddl)


def _str_or_list(field: str):
    """JSON-LD scalar-or-array polymorphism -> array<string> (the reference
    wraps scalars in a list, parsers.py:230-231)."""
    scalar = _vg(field, "string")
    return F.coalesce(
        _vg(field, "array<string>"),
        F.when(scalar.isNotNull(), F.array(scalar)),
    )


def _entity_or_list(field: str):
    """JSON-LD object-or-array polymorphism -> array<entity struct>."""
    one = _vg(field, _LD_ENTITY_DDL)
    return F.coalesce(
        _vg(field, f"array<{_LD_ENTITY_DDL}>"),
        F.when(one.isNotNull(), F.array(one)),
    )


def volumes_from_ef(raw: DataFrame) -> DataFrame:
    """One metadata row per volume — operator S6, full field surface.

    Implements all three reference field maps (parsers.py:145-174):
    METADATA_FIELDS for every era, METADATA_FIELDS_1_3 when
    features.schemaVersion is 2.0/3.0, METADATA_FIELDS_3_0 for the JSON-LD
    URL schema — plus the `_ld` flattening (parsers.py:227-242): entity
    objects contribute their `name`, and LD genre URIs map through the LOC
    MARC genre-term table (utils.py:7).

    The metadata subtree is ingested as a VariantType (era-polymorphic keys:
    the same name can be a string in 2.0/3.0 and an object/array in LD), so
    one scan serves a mixed-era corpus; the era dispatch below is a
    constant-folded CASE on features.schemaVersion. The raw subtree rides
    along losslessly as ``extra``.
    """
    # reference dispatch: schema 2.0/3.0 -> 1.3-era fields, anything else
    # (the URL schema) -> JSON-LD fields (parsers.py:208-211)
    legacy = F.col("features.schemaVersion").isin("2.0", "3.0")

    contributor_ld = _entity_or_list("contributor")
    genre_ld = F.when(~legacy, _str_or_list("genre"))
    return raw.select(
        "htid",
        # ---- METADATA_FIELDS (all eras) ----
        _vg("schemaVersion", "string").alias("metadata_schema_version"),
        _vg("enumerationChronology", "string").alias("enumeration_chronology"),
        _vg("typeOfResource", "string").alias("type_of_resource"),
        _vg("title", "string").alias("title"),
        _vg("dateCreated", "string").alias("date_created"),
        F.coalesce(_vg("pubDate", "string"),
                   _vg("pubDate", "bigint").cast("string")).alias("pub_date"),
        _vg("language", "string").alias("language"),
        _vg("accessProfile", "string").alias("access_profile"),
        _str_or_list("isbn").alias("isbn"),
        _str_or_list("issn").alias("issn"),
        _str_or_list("lccn").alias("lccn"),
        _str_or_list("oclc").alias("oclc"),
        F.col("features.pageCount").alias("page_count"),
        F.col("features.schemaVersion").alias("feature_schema_version"),
        # ---- METADATA_FIELDS_1_3 (2.0/3.0 era) ----
        F.when(legacy, _vg("htBibUrl", "string")).alias("ht_bib_url"),
        F.when(legacy, _str_or_list("genre"))
         .otherwise(F.transform(genre_ld, _genre_label)).alias("genre"),
        F.when(legacy, _vg("handleUrl", "string"))
         .otherwise(_vg("id", "string")).alias("handle_url"),
        F.when(legacy, _vg("imprint", "string")).alias("imprint"),
        F.when(legacy, _str_or_list("names")).alias("names"),
        F.when(legacy, F.col("id")).otherwise(F.col("htid")).alias("id"),
        F.when(legacy, _vg("sourceInstitution", "string"))
         .otherwise(_vg("sourceInstitution", _LD_ENTITY_DDL).getField("name"))
         .alias("source_institution"),
        F.when(legacy, _vg("classification", "map<string,array<string>>"))
         .alias("classification"),
        F.when(legacy, _vg("issuance", "string")).alias("issuance"),
        F.when(legacy, _vg("bibliographicFormat", "string")).alias("bibliographic_format"),
        F.when(legacy, _vg("governmentDocument", "boolean")).alias("government_document"),
        F.when(legacy, _vg("hathitrustRecordNumber", "string")).alias("hathitrust_record_number"),
        F.when(legacy, _vg("rightsAttributes", "string")).alias("rights_attributes"),
        F.when(legacy, _vg("pubPlace", "string"))
         .otherwise(_vg("pubPlace", _LD_ENTITY_DDL).getField("name")).alias("pub_place"),
        F.when(legacy, _vg("volumeIdentifier", "string")).alias("volume_identifier"),
        F.when(legacy, _vg("sourceInstitutionRecordNumber", "string"))
         .alias("source_institution_record_number"),
        F.when(legacy, _vg("lastUpdateDate", "string")).alias("last_update_date"),
        # ---- METADATA_FIELDS_3_0 (JSON-LD era) + `_ld` flattening ----
        F.when(~legacy, _vg("accessRights", "string")).alias("access_rights"),
        F.when(~legacy, _str_or_list("alternateTitle")).alias("alternate_title"),
        F.when(~legacy, _str_or_list("category")).alias("category"),
        genre_ld.alias("genre_ld"),
        F.when(~legacy, contributor_ld).alias("contributor_ld"),
        F.when(~legacy, F.transform(contributor_ld, lambda e: e.getField("name")))
         .alias("contributor"),
        F.when(~legacy, _vg("sourceInstitution", _LD_ENTITY_DDL))
         .alias("source_institution_ld"),
        F.when(~legacy, _str_or_list("lcc")).alias("lcc"),
        F.when(~legacy, _str_or_list("type")).alias("type"),
        F.when(~legacy, F.try_variant_get(F.col("metadata"), "$.isPartOf", "variant"))
         .alias("is_part_of"),
        F.when(~legacy, F.coalesce(
            _vg("lastRightsUpdateDate", "string"),
            _vg("lastRightsUpdateDate", "bigint").cast("string"),
        )).alias("last_rights_update_date"),
        F.when(~legacy, _vg("pubPlace", _LD_ENTITY_DDL)).alias("pub_place_ld"),
        F.when(~legacy, _str_or_list("mainEntityOfPage")).alias("main_entity_of_page"),
        F.when(~legacy, _vg("publisher", _LD_ENTITY_DDL)).alias("publisher_ld"),
        F.when(~legacy, _vg("publisher", _LD_ENTITY_DDL).getField("name"))
         .alias("publisher"),
        # ---- lossless raw metadata ----
        F.col("metadata").alias("extra"),
    )
