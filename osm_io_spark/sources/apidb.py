"""apidb pg_dump directory source + sink (SURVEY.md S7/S8/S11, J1-J6, A5/A6).

Reads and writes PostgreSQL ``pg_dump --format d`` COPY-text dumps of the
OSM apidb star schema, the reference's second storage format:

* toc.dat byte-scan for ``COPY <table> (<cols>) FROM stdin`` → ``NNNN.dat``
  mappings — same discovery behavior as
  /root/reference/src/osm/apidb_dump/read/reader.rs:88-134 (column
  positions are discovered at runtime, never assumed).
* COPY-text decode — tab split, ``\\N`` nulls, backslash unescape, ``t/f``
  bools, naive microsecond timestamps, ``\\.`` terminator — as in
  /root/reference/src/osm/apidb_dump/read/table_reader.rs:137-527 and
  sql.rs:6-36, but entirely as JVM column expressions (split /
  string-replace chains inside whole-stage codegen; no Python in the
  scan path).
* Star-schema → element reassembly: the reference's hand-rolled
  sort-merge joins (node_relations_reader.rs:56-110,
  way_relations_reader.rs:69-160, relation_relations_reader.rs:70-160)
  and B-tree lookup joins (element_iterator.rs:74-98) become declarative
  group-aggregates + broadcast hash joins; Catalyst plans SMJ/BHJ where
  the reference hand-coded them. The reference's external pre-sort of
  every table (reader.rs:71-86) is unnecessary: Spark's shuffle sort
  performs the same work inside the join.
* Sink: elements → the ten tables of interest plus the derived
  ``current_*`` family (latest visible version per id —
  write/current_object.rs:18-31) and synthesized ``users``/``changesets``
  dimensions (write/writer.rs:380-463), plus a toc.dat the byte-scanner
  (ours and the reference's) can parse.

Unescape chain correctness: COPY text escapes ``\\`` ``\\t`` ``\\n``
``\\r``. Replacing the two-byte ``\\\\`` with a \\x00 sentinel FIRST makes
the remaining single-escape replacements unambiguous, and the sentinel
is restored LAST — a vectorized equivalent of a single left-to-right
scan (sentinel bytes cannot appear in COPY text output).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import pgdump_toc as PGT
from .pbf.decode import ELEMENTS

_SENTINEL = "\x00"

# Write-side canonical column order (matches pg_dump of the apidb schema;
# verified against the reference fixture's toc.dat COPY statements).
TABLE_FIELDS: dict[str, list[str]] = {
    "nodes": ["node_id", "latitude", "longitude", "changeset_id", "visible",
              "timestamp", "tile", "version", "redaction_id"],
    "node_tags": ["node_id", "version", "k", "v"],
    "ways": ["way_id", "changeset_id", "timestamp", "version", "visible",
             "redaction_id"],
    "way_nodes": ["way_id", "node_id", "version", "sequence_id"],
    "way_tags": ["way_id", "k", "v", "version"],
    "relations": ["relation_id", "changeset_id", "timestamp", "version",
                  "visible", "redaction_id"],
    "relation_members": ["relation_id", "member_type", "member_id",
                         "member_role", "version", "sequence_id"],
    "relation_tags": ["relation_id", "k", "v", "version"],
    "changesets": ["id", "user_id", "created_at", "min_lat", "max_lat",
                   "min_lon", "max_lon", "closed_at", "num_changes"],
    "changeset_tags": ["changeset_id", "k", "v"],
    "users": ["email", "id", "pass_crypt", "creation_time", "display_name",
              "data_public", "description", "home_lat", "home_lon",
              "home_zoom", "pass_salt", "email_valid", "new_email",
              "creation_ip", "languages", "status", "terms_agreed",
              "consider_pd", "auth_uid", "preferred_editor", "terms_seen",
              "description_format", "changesets_count", "traces_count",
              "diary_entries_count", "image_use_gravatar", "auth_provider",
              "home_tile", "tou_agreed"],
    # derived current_* family (written, not read back)
    "current_nodes": ["id", "latitude", "longitude", "changeset_id",
                      "visible", "timestamp", "tile", "version"],
    "current_node_tags": ["node_id", "k", "v"],
    "current_ways": ["id", "changeset_id", "timestamp", "visible", "version"],
    "current_way_nodes": ["way_id", "node_id", "sequence_id"],
    "current_way_tags": ["way_id", "k", "v"],
    "current_relations": ["id", "changeset_id", "timestamp", "visible",
                          "version"],
    "current_relation_members": ["relation_id", "member_type", "member_id",
                                 "member_role", "sequence_id"],
    "current_relation_tags": ["relation_id", "k", "v"],
}

TABLES_OF_INTEREST = [
    "nodes", "node_tags", "ways", "way_nodes", "way_tags",
    "relations", "relation_members", "relation_tags", "changesets", "users",
]

# Auxiliary apidb tables the reference writes EMPTY so the dump restores
# into a complete apidb schema (write/writer.rs:42-60 creates one
# TableDataWriter per table; table_data_writers.rs:9-138 lists the set).
# Column lists come from the public schema DDL the reference vendors
# (src/osm/apidb_dump/sql/structure.sql, one CREATE TABLE each).
AUX_TABLE_FIELDS: dict[str, list[str]] = {
    "acls": ["id", "address", "k", "v", "domain", "mx"],
    "active_storage_attachments": ["id", "name", "record_type", "record_id",
                                   "blob_id", "created_at"],
    "active_storage_blobs": ["id", "key", "filename", "content_type",
                             "metadata", "byte_size", "checksum",
                             "created_at", "service_name"],
    "active_storage_variant_records": ["id", "blob_id", "variation_digest"],
    "ar_internal_metadata": ["key", "value", "created_at", "updated_at"],
    "changeset_comments": ["id", "changeset_id", "author_id", "body",
                           "created_at", "visible"],
    "changesets_subscribers": ["subscriber_id", "changeset_id"],
    "client_applications": ["id", "name", "url", "support_url",
                            "callback_url", "key", "secret", "user_id",
                            "created_at", "updated_at", "allow_read_prefs",
                            "allow_write_prefs", "allow_write_diary",
                            "allow_write_api", "allow_read_gpx",
                            "allow_write_gpx", "allow_write_notes"],
    "delayed_jobs": ["id", "priority", "attempts", "handler", "last_error",
                     "run_at", "locked_at", "failed_at", "locked_by",
                     "queue", "created_at", "updated_at"],
    "diary_comments": ["id", "diary_entry_id", "user_id", "body",
                       "created_at", "updated_at", "visible", "body_format"],
    "diary_entries": ["id", "user_id", "title", "body", "created_at",
                      "updated_at", "latitude", "longitude",
                      "language_code", "visible", "body_format"],
    "diary_entry_subscriptions": ["user_id", "diary_entry_id"],
    "friends": ["id", "user_id", "friend_user_id", "created_at"],
    "gps_points": ["altitude", "trackid", "latitude", "longitude", "gpx_id",
                   "timestamp", "tile"],
    "gpx_file_tags": ["gpx_id", "tag", "id"],
    "gpx_files": ["id", "user_id", "visible", "name", "size", "latitude",
                  "longitude", "timestamp", "description", "inserted",
                  "visibility"],
    "issue_comments": ["id", "issue_id", "user_id", "body", "created_at",
                       "updated_at"],
    "issues": ["id", "reportable_type", "reportable_id", "reported_user_id",
               "status", "assigned_role", "resolved_at", "resolved_by",
               "updated_by", "reports_count", "created_at", "updated_at"],
    "languages": ["code", "english_name", "native_name"],
    "messages": ["id", "from_user_id", "title", "body", "sent_on",
                 "message_read", "to_user_id", "to_user_visible",
                 "from_user_visible", "body_format"],
    "note_comments": ["id", "note_id", "visible", "created_at", "author_ip",
                      "author_id", "body", "event"],
    "notes": ["id", "latitude", "longitude", "tile", "updated_at",
              "created_at", "status", "closed_at"],
    "oauth_access_grants": ["id", "resource_owner_id", "application_id",
                            "token", "expires_in", "redirect_uri",
                            "created_at", "revoked_at", "scopes",
                            "code_challenge", "code_challenge_method"],
    "oauth_access_tokens": ["id", "resource_owner_id", "application_id",
                            "token", "refresh_token", "expires_in",
                            "revoked_at", "created_at", "scopes",
                            "previous_refresh_token"],
    "oauth_applications": ["id", "owner_type", "owner_id", "name", "uid",
                           "secret", "redirect_uri", "scopes",
                           "confidential", "created_at", "updated_at"],
    "oauth_nonces": ["id", "nonce", "timestamp", "created_at", "updated_at"],
    "oauth_tokens": ["id", "user_id", "type", "client_application_id",
                     "token", "secret", "authorized_at", "invalidated_at",
                     "created_at", "updated_at", "allow_read_prefs",
                     "allow_write_prefs", "allow_write_diary",
                     "allow_write_api", "allow_read_gpx", "allow_write_gpx",
                     "callback_url", "verifier", "scope", "valid_to",
                     "allow_write_notes"],
    "redactions": ["id", "title", "description", "created_at", "updated_at",
                   "user_id", "description_format"],
    "reports": ["id", "issue_id", "user_id", "details", "category",
                "created_at", "updated_at"],
    "schema_migrations": ["version"],
    "user_blocks": ["id", "user_id", "creator_id", "reason", "ends_at",
                    "needs_view", "revoker_id", "created_at", "updated_at",
                    "reason_format"],
    "user_preferences": ["user_id", "k", "v"],
    "user_roles": ["id", "user_id", "role", "created_at", "updated_at",
                   "granter_id"],
    "user_tokens": ["id", "user_id", "token", "expiry", "referer"],
}

# table → data file name, mirroring the reference's pg_dump template
# (write/toc/mapping.json; the NNNN are the template archive's OIDs, so
# our directory layout is file-for-file comparable with the reference's)
TOC_FILE_MAPPING: dict[str, str] = {
    "acls": "4210.dat", "active_storage_attachments": "4212.dat",
    "active_storage_blobs": "4214.dat",
    "active_storage_variant_records": "4216.dat",
    "ar_internal_metadata": "4218.dat", "changeset_comments": "4219.dat",
    "changeset_tags": "4221.dat", "changesets": "4222.dat",
    "changesets_subscribers": "4224.dat", "client_applications": "4225.dat",
    "current_node_tags": "4227.dat", "current_nodes": "4228.dat",
    "current_relation_members": "4230.dat",
    "current_relation_tags": "4231.dat", "current_relations": "4232.dat",
    "current_way_nodes": "4234.dat", "current_way_tags": "4235.dat",
    "current_ways": "4236.dat", "delayed_jobs": "4238.dat",
    "diary_comments": "4240.dat", "diary_entries": "4242.dat",
    "diary_entry_subscriptions": "4244.dat", "friends": "4245.dat",
    "gps_points": "4247.dat", "gpx_file_tags": "4248.dat",
    "gpx_files": "4250.dat", "issue_comments": "4252.dat",
    "issues": "4254.dat", "languages": "4256.dat", "messages": "4257.dat",
    "node_tags": "4259.dat", "nodes": "4260.dat",
    "note_comments": "4261.dat", "notes": "4263.dat",
    "oauth_access_grants": "4265.dat", "oauth_access_tokens": "4267.dat",
    "oauth_applications": "4269.dat", "oauth_nonces": "4271.dat",
    "oauth_tokens": "4273.dat", "redactions": "4275.dat",
    "relation_members": "4277.dat", "relation_tags": "4278.dat",
    "relations": "4279.dat", "reports": "4280.dat",
    "schema_migrations": "4282.dat", "user_blocks": "4283.dat",
    "user_preferences": "4285.dat", "user_roles": "4286.dat",
    "user_tokens": "4288.dat", "users": "4290.dat",
    "way_nodes": "4292.dat", "way_tags": "4293.dat", "ways": "4294.dat",
}

# per-column Spark types for the read path ('' = string)
_LONG = {"node_id", "way_id", "relation_id", "member_id", "changeset_id",
         "id", "user_id", "tile", "version", "sequence_id", "redaction_id",
         "num_changes", "home_tile", "changesets_count", "traces_count",
         "diary_entries_count", "auth_uid"}
_INT = {"latitude", "longitude", "home_zoom"}
_BOOL = {"visible", "data_public", "email_valid", "consider_pd",
         "terms_seen", "image_use_gravatar"}
_TS = {"timestamp", "created_at", "closed_at", "creation_time",
       "terms_agreed", "tou_agreed"}


# ---------------------------------------------------------------------------
# toc.dat
# ---------------------------------------------------------------------------

def parse_toc(toc_path: str) -> dict[str, dict]:
    """Byte-scan toc.dat for COPY statements → {table: {file, fields}}.

    Behavioral twin of reader.rs get_table_def_strings: find ``COPY ``,
    capture up to `` FROM stdin``, then take the digit-run preceding the
    next ``.dat`` as the data file name. Works on pg_dump's binary toc
    without parsing its framing.
    """
    with open(toc_path, "rb") as fh:
        toc = fh.read()
    out: dict[str, dict] = {}
    i = 0
    while True:
        i = toc.find(b"COPY ", i)
        if i < 0:
            break
        j = toc.find(b" FROM stdin", i)
        if j < 0:
            break
        stmt = toc[i + 5:j].decode("utf-8", "replace")
        k = toc.find(b".dat", j)
        if k < 0:
            break
        s = k - 1
        while s > 0 and chr(toc[s]).isdigit():
            s -= 1
        fname = toc[s + 1:k + 4].decode()
        name_part, _, cols_part = stmt.partition(" (")
        name = name_part.split(".")[-1]
        fields = [c.strip().strip('"') for c in
                  cols_part.rstrip(")").split(", ")]
        out[name] = {"file": fname, "fields": fields}
        i = j
    return out


# ---------------------------------------------------------------------------
# COPY text decode / encode (JVM column chains)
# ---------------------------------------------------------------------------

def _unescape(col: Column) -> Column:
    c = F.replace(col, F.lit("\\\\"), F.lit(_SENTINEL))
    c = F.replace(c, F.lit("\\t"), F.lit("\t"))
    c = F.replace(c, F.lit("\\n"), F.lit("\n"))
    c = F.replace(c, F.lit("\\r"), F.lit("\r"))
    return F.replace(c, F.lit(_SENTINEL), F.lit("\\"))


def _escape(col: Column) -> Column:
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    return F.replace(c, F.lit("\r"), F.lit("\\r"))


def _typed(col: Column, field: str) -> Column:
    if field in _LONG:
        return col.cast("long")
    if field in _INT:
        return col.cast("int")
    if field in _BOOL:
        return col == F.lit("t")
    if field in _TS:
        return F.unix_millis(F.to_timestamp(col))
    return _unescape(col)


def read_table(spark: SparkSession, dat_path: str, fields: list[str],
               name: str) -> DataFrame:
    """One COPY text file → typed DataFrame. Missing file → empty table
    (pg_dump omits .dat files for empty tables in some archives)."""
    schema = T.StructType([
        T.StructField(f, T.LongType() if f in _LONG
                      else T.IntegerType() if f in _INT
                      else T.BooleanType() if f in _BOOL
                      else T.LongType() if f in _TS
                      else T.StringType(), True)
        for f in fields])
    if not os.path.exists(dat_path):
        return spark.createDataFrame([], schema=schema)
    lines = spark.read.text(dat_path)
    lines = lines.filter((F.col("value") != "\\.") & (F.length("value") > 0))
    parts = F.split(F.col("value"), "\t")
    cols = []
    for idx, f in enumerate(fields):
        raw = parts.getItem(idx)
        raw = F.when(raw == "\\N", F.lit(None)).otherwise(raw)
        cols.append(_typed(raw, f).alias(f))
    return lines.select(*cols)


def read_apidb_dump(spark: SparkSession, dump_dir: str) -> dict[str, DataFrame]:
    """Dump directory → dict of typed DataFrames (tables of interest)."""
    toc = parse_toc(os.path.join(dump_dir, "toc.dat"))
    out = {}
    for name in TABLES_OF_INTEREST:
        if name not in toc:
            continue
        td = toc[name]
        out[name] = read_table(spark, os.path.join(dump_dir, td["file"]),
                               td["fields"], name)
    return out


# ---------------------------------------------------------------------------
# star schema → elements (the reference's merge-join pipeline, declarative)
# ---------------------------------------------------------------------------

def _tags_agg(tag_df: DataFrame, id_col: str) -> DataFrame:
    """Group tags into an ordered array<struct<k,v>> per (id, version).
    Order = k, mirroring the reference's pkey sort (table_pkey.rs: the
    (id, version, k) primary keys make tag order-by-k the contract)."""
    return (tag_df.groupBy(F.col(id_col).alias("id"), "version")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("k", "v"))),
                lambda s: F.struct(s["k"].alias("k"), s["v"].alias("v"))
            ).alias("tags")))


def elements_from_apidb(tables: dict[str, DataFrame]) -> DataFrame:
    """Reassemble the unified ELEMENTS frame from the star schema.

    Join strategy (vs the reference's cursors):
      * 1:N tag/member/ref joins — pre-aggregate the N side then SMJ
        (J1/J2/J3; Spark picks the algorithm)
      * changeset→user_id and user_id→display_name — broadcast hash
        joins (J4/J5; the reference builds disk-backed B-trees)
    """
    cs = tables["changesets"].select(
        F.col("id").alias("changeset_id"), F.col("user_id").alias("_uid"))
    users = tables["users"].select(
        F.col("id").alias("_uid"), F.col("display_name").alias("_user"))
    user_of_cs = F.broadcast(
        cs.join(F.broadcast(users), on="_uid", how="left")
          .select("changeset_id", F.col("_uid").alias("uid"),
                  F.col("_user").alias("user")))

    def with_user(df: DataFrame) -> DataFrame:
        return df.join(user_of_cs, on="changeset_id", how="left")

    empty_tags = F.array().cast(ELEMENTS["tags"].dataType)

    nodes = tables["nodes"]
    ntags = _tags_agg(tables["node_tags"], "node_id")
    n = (with_user(nodes)
         .join(ntags, on=[nodes.node_id == ntags.id,
                          nodes.version == ntags.version], how="left")
         .select(F.lit("node").alias("etype"),
                 F.col("node_id").alias("id"),
                 nodes.version.cast("int").alias("version"),
                 (F.col("latitude") / 1e7).alias("lat"),
                 (F.col("longitude") / 1e7).alias("lon"),
                 F.col("timestamp"),
                 F.col("changeset_id").alias("changeset"),
                 F.col("uid").cast("int").alias("uid"), F.col("user"),
                 F.col("visible"),
                 F.coalesce("tags", empty_tags).alias("tags"),
                 F.lit(None).cast(ELEMENTS["refs"].dataType).alias("refs"),
                 F.lit(None).cast(ELEMENTS["members"].dataType).alias("members")))

    ways = tables["ways"]
    wtags = _tags_agg(tables["way_tags"], "way_id")
    wrefs = (tables["way_nodes"]
             .groupBy(F.col("way_id").alias("id"), "version")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("sequence_id", "node_id"))),
                 lambda s: s["node_id"]).alias("refs")))
    w = (with_user(ways)
         .join(wrefs, on=[ways.way_id == wrefs.id,
                          ways.version == wrefs.version], how="left")
         .drop(wrefs.id).drop(wrefs.version)
         .join(wtags, on=[ways.way_id == wtags.id,
                          ways.version == wtags.version], how="left")
         .select(F.lit("way").alias("etype"),
                 F.col("way_id").alias("id"),
                 ways.version.cast("int").alias("version"),
                 F.lit(None).cast("double").alias("lat"),
                 F.lit(None).cast("double").alias("lon"),
                 F.col("timestamp"),
                 F.col("changeset_id").alias("changeset"),
                 F.col("uid").cast("int").alias("uid"), F.col("user"),
                 F.col("visible"),
                 F.coalesce("tags", empty_tags).alias("tags"),
                 F.coalesce("refs", F.array().cast(
                     ELEMENTS["refs"].dataType)).alias("refs"),
                 F.lit(None).cast(ELEMENTS["members"].dataType).alias("members")))

    rels = tables["relations"]
    rtags = _tags_agg(tables["relation_tags"], "relation_id")
    # member order mirrors the reference's pkey sort: (member_type,
    # member_id, member_role, sequence_id) — table_pkey.rs:49-57
    rmem = (tables["relation_members"]
            .groupBy(F.col("relation_id").alias("id"), "version")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct(
                    "member_type", "member_id", "member_role", "sequence_id"))),
                lambda s: F.struct(
                    s["member_type"].alias("type"),
                    s["member_id"].alias("id"),
                    s["member_role"].alias("role"))).alias("members")))
    r = (with_user(rels)
         .join(rmem, on=[rels.relation_id == rmem.id,
                         rels.version == rmem.version], how="left")
         .drop(rmem.id).drop(rmem.version)
         .join(rtags, on=[rels.relation_id == rtags.id,
                          rels.version == rtags.version], how="left")
         .select(F.lit("relation").alias("etype"),
                 F.col("relation_id").alias("id"),
                 rels.version.cast("int").alias("version"),
                 F.lit(None).cast("double").alias("lat"),
                 F.lit(None).cast("double").alias("lon"),
                 F.col("timestamp"),
                 F.col("changeset_id").alias("changeset"),
                 F.col("uid").cast("int").alias("uid"), F.col("user"),
                 F.col("visible"),
                 F.coalesce("tags", empty_tags).alias("tags"),
                 F.lit(None).cast(ELEMENTS["refs"].dataType).alias("refs"),
                 F.coalesce("members", F.array().cast(
                     ELEMENTS["members"].dataType)).alias("members")))

    return n.unionByName(w).unionByName(r)


# ---------------------------------------------------------------------------
# elements → star schema (sink, S11)
# ---------------------------------------------------------------------------

def _ts_str(col: Column) -> Column:
    return F.date_format(F.timestamp_millis(col), "yyyy-MM-dd HH:mm:ss")


def _signed_round_e7(col: Column) -> Column:
    """round(deg*1e7) half-away-from-zero, matching Rust f64::round
    (coordinate.rs:19-29); floor(x+0.5) only matches for x>=0."""
    scaled = col * F.lit(1e7)
    return F.when(scaled >= 0, F.floor(scaled + F.lit(0.5))) \
            .otherwise(-F.floor(-scaled + F.lit(0.5))).cast("long")


def apidb_tables_from_elements(els: DataFrame) -> dict[str, DataFrame]:
    """Decompose the unified element frame into the apidb star schema,
    including derived current_* tables and synthesized dimensions."""
    from ..functions import cells as C
    from ..functions.steps import select_steps

    nodes_e = els.filter(F.col("etype") == "node")
    ways_e = els.filter(F.col("etype") == "way")
    rels_e = els.filter(F.col("etype") == "relation")

    nodes = select_steps(nodes_e, C.zorder_tile_steps("lat", "lon", "tile"),
                         keep=("tile",)).select(
        F.col("id").alias("node_id"),
        _signed_round_e7(F.col("lat")).cast("int").alias("latitude"),
        _signed_round_e7(F.col("lon")).cast("int").alias("longitude"),
        F.col("changeset").alias("changeset_id"),
        "visible", "timestamp",
        "tile",
        F.col("version").cast("long").alias("version"),
        F.lit(None).cast("long").alias("redaction_id"))

    def tag_rows(df: DataFrame, id_name: str) -> DataFrame:
        return (df.select(F.col("id").alias(id_name),
                          F.col("version").cast("long").alias("version"),
                          F.explode("tags").alias("t"))
                .select(id_name, "version", F.col("t.k").alias("k"),
                        F.col("t.v").alias("v")))

    node_tags = tag_rows(nodes_e, "node_id").select("node_id", "version", "k", "v")
    way_tags = tag_rows(ways_e, "way_id").select("way_id", "k", "v", "version")
    relation_tags = tag_rows(rels_e, "relation_id").select(
        "relation_id", "k", "v", "version")

    ways = ways_e.select(
        F.col("id").alias("way_id"), F.col("changeset").alias("changeset_id"),
        "timestamp", F.col("version").cast("long").alias("version"),
        "visible", F.lit(None).cast("long").alias("redaction_id"))

    way_nodes = (ways_e.select(
        F.col("id").alias("way_id"),
        F.col("version").cast("long").alias("version"),
        F.posexplode("refs").alias("pos", "node_id"))
        .select("way_id", "node_id", "version",
                (F.col("pos") + 1).cast("long").alias("sequence_id")))

    relations = rels_e.select(
        F.col("id").alias("relation_id"),
        F.col("changeset").alias("changeset_id"),
        "timestamp", F.col("version").cast("long").alias("version"),
        "visible", F.lit(None).cast("long").alias("redaction_id"))

    relation_members = (rels_e.select(
        F.col("id").alias("relation_id"),
        F.col("version").cast("long").alias("version"),
        F.posexplode("members").alias("pos", "m"))
        .select("relation_id", F.col("m.type").alias("member_type"),
                F.col("m.id").alias("member_id"),
                F.col("m.role").alias("member_role"),
                "version", (F.col("pos") + 1).cast("long").alias("sequence_id")))

    # synthesized dims (A6): last-wins dedup, as the reference's
    # reverse-lookup hashmaps (writer.rs:80-81,158-159)
    users = (els.filter(F.col("uid").isNotNull())
             .groupBy(F.col("uid").cast("long").alias("id"))
             .agg(F.max_by("user", "timestamp").alias("display_name"))
             .select(
                 F.concat(F.lit("osm-admin-user-"), F.col("id"),
                          F.lit("@example.com")).alias("email"),
                 "id",
                 F.lit("00000000000000000000000000000000").alias("pass_crypt"),
                 F.lit(0).cast("long").alias("creation_time"),
                 "display_name",
                 F.lit(True).alias("data_public"),
                 F.lit(None).cast("string").alias("description"),
                 F.lit(0).alias("home_lat"), F.lit(0).alias("home_lon"),
                 F.lit(3).alias("home_zoom"),
                 F.lit("00000000").alias("pass_salt"),
                 F.lit(False).alias("email_valid"),
                 F.lit(None).cast("string").alias("new_email"),
                 F.lit(None).cast("string").alias("creation_ip"),
                 F.lit(None).cast("string").alias("languages"),
                 F.lit("pending").alias("status"),
                 F.lit(None).cast("long").alias("terms_agreed"),
                 F.lit(False).alias("consider_pd"),
                 F.lit(None).cast("long").alias("auth_uid"),
                 F.lit(None).cast("string").alias("preferred_editor"),
                 F.lit(False).alias("terms_seen"),
                 F.lit("markdown").alias("description_format"),
                 F.lit(0).cast("long").alias("changesets_count"),
                 F.lit(0).cast("long").alias("traces_count"),
                 F.lit(0).cast("long").alias("diary_entries_count"),
                 F.lit(False).alias("image_use_gravatar"),
                 F.lit(None).cast("string").alias("auth_provider"),
                 F.lit(None).cast("long").alias("home_tile"),
                 F.lit(None).cast("long").alias("tou_agreed")))  # ts-millis

    changesets = (els.filter(F.col("changeset").isNotNull())
                  .groupBy(F.col("changeset").alias("id"))
                  .agg(F.max_by("uid", "timestamp").cast("long").alias("user_id"),
                       F.min("timestamp").alias("created_at"))
                  .select("id", "user_id", "created_at",
                          F.lit(-900000000).alias("min_lat"),
                          F.lit(900000000).alias("max_lat"),
                          F.lit(-1800000000).alias("min_lon"),
                          F.lit(1800000000).alias("max_lon"),
                          F.col("created_at").alias("closed_at"),
                          F.lit(0).cast("long").alias("num_changes")))

    # two synthesized tag rows per changeset, as the reference's
    # write_changesets (writer.rs:383-398): created_by + replication
    changeset_tags = (changesets.select(F.col("id").alias("changeset_id"))
                      .select("changeset_id", F.explode(F.array(
                          F.struct(F.lit("created_by").alias("k"),
                                   F.lit("osm-io-spark").alias("v")),
                          F.struct(F.lit("replication").alias("k"),
                                   F.lit("true").alias("v")))).alias("t"))
                      .select("changeset_id", F.col("t.k").alias("k"),
                              F.col("t.v").alias("v")))

    # current_* views (A5): latest version per id, dropped when the
    # latest version is invisible (current_object.rs:18-31)
    from ..operators.current import latest_version

    cur_nodes_full = latest_version(nodes_e).filter("visible")
    current_nodes = select_steps(
        cur_nodes_full, C.zorder_tile_steps("lat", "lon", "tile"),
        keep=("tile",)).select(
        F.col("id"),
        _signed_round_e7(F.col("lat")).cast("int").alias("latitude"),
        _signed_round_e7(F.col("lon")).cast("int").alias("longitude"),
        F.col("changeset").alias("changeset_id"), "visible", "timestamp",
        "tile",
        F.col("version").cast("long").alias("version"))
    current_node_tags = (cur_nodes_full.select(
        F.col("id").alias("node_id"), F.explode("tags").alias("t"))
        .select("node_id", F.col("t.k").alias("k"), F.col("t.v").alias("v")))

    cur_ways_full = latest_version(ways_e).filter("visible")
    current_ways = cur_ways_full.select(
        F.col("id"), F.col("changeset").alias("changeset_id"),
        "timestamp", "visible", F.col("version").cast("long").alias("version"))
    current_way_nodes = (cur_ways_full.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "node_id"))
        .select("way_id", "node_id",
                (F.col("pos") + 1).cast("long").alias("sequence_id")))
    current_way_tags = (cur_ways_full.select(
        F.col("id").alias("way_id"), F.explode("tags").alias("t"))
        .select("way_id", F.col("t.k").alias("k"), F.col("t.v").alias("v")))

    cur_rels_full = latest_version(rels_e).filter("visible")
    current_relations = cur_rels_full.select(
        F.col("id"), F.col("changeset").alias("changeset_id"),
        "timestamp", "visible", F.col("version").cast("long").alias("version"))
    current_relation_members = (cur_rels_full.select(
        F.col("id").alias("relation_id"), F.posexplode("members").alias("pos", "m"))
        .select("relation_id", F.col("m.type").alias("member_type"),
                F.col("m.id").alias("member_id"),
                F.col("m.role").alias("member_role"),
                (F.col("pos") + 1).cast("long").alias("sequence_id")))
    current_relation_tags = (cur_rels_full.select(
        F.col("id").alias("relation_id"), F.explode("tags").alias("t"))
        .select("relation_id", F.col("t.k").alias("k"), F.col("t.v").alias("v")))

    return {
        "nodes": nodes, "node_tags": node_tags,
        "ways": ways, "way_nodes": way_nodes, "way_tags": way_tags,
        "relations": relations, "relation_members": relation_members,
        "relation_tags": relation_tags,
        "changesets": changesets, "changeset_tags": changeset_tags,
        "users": users,
        "current_nodes": current_nodes, "current_node_tags": current_node_tags,
        "current_ways": current_ways, "current_way_nodes": current_way_nodes,
        "current_way_tags": current_way_tags,
        "current_relations": current_relations,
        "current_relation_members": current_relation_members,
        "current_relation_tags": current_relation_tags,
    }


def _copy_lines(df: DataFrame, fields: list[str]) -> DataFrame:
    cols = []
    for f in fields:
        c = F.col(f)
        if f in _BOOL:
            c = F.when(c, "t").when(~c, "f")
        elif f in _TS:
            c = _ts_str(c)
        elif f not in _LONG and f not in _INT:
            c = _escape(c)
        cols.append(F.coalesce(c.cast("string"), F.lit("\\N")))
    return df.select(F.concat_ws("\t", *cols).alias("value"))


def write_apidb_dump(els: DataFrame, out_dir: str) -> dict[str, str]:
    """elements → pg_dump-style directory: the COMPLETE apidb table set
    (53 tables, matching write/writer.rs:42-60 + table_data_writers.rs:
    9-138) so the dump restores into a full apidb schema. Data tables
    (+ derived current_* and synthesized dims) carry rows; the auxiliary
    tables are written empty, exactly as the reference does. File names
    follow the reference's template mapping (toc/mapping.json) and the
    toc.dat lists every table's COPY statement.

    Each data table writes in parallel as text parts, then parts
    concatenate into the single .dat the dump format requires (the dump
    layout itself is single-file-per-table; at planet scale keep the
    parts and skip this merge — the reader accepts either via toc)."""
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    # ~20 output tables each re-execute the upstream element plan (for a
    # PBF source that is the whole Python decode pass, ~20x over) unless
    # the frame is materialized once before the fan-out
    from pyspark import StorageLevel
    els = els.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tables = apidb_tables_from_elements(els)
        toc_entries = []
        mapping: dict[str, str] = {}
        for name in sorted(TOC_FILE_MAPPING):
            fields = (TABLE_FIELDS.get(name) or AUX_TABLE_FIELDS[name])
            fname = TOC_FILE_MAPPING[name]
            final = os.path.join(out_dir, fname)
            if name in tables:
                part_dir = os.path.join(out_dir, f"_{name}.parts")
                _copy_lines(tables[name], fields).write.mode(
                    "overwrite").text(part_dir)
                with open(final, "wb") as out:
                    for p in sorted(os.listdir(part_dir)):
                        if p.startswith("part-"):
                            with open(os.path.join(part_dir, p), "rb") as src:
                                out.write(src.read())
                    out.write(b"\\.\n")
                shutil.rmtree(part_dir)
            else:
                # empty aux table: footer only (table_data_writer.rs
                # close() writes the terminator on every table)
                with open(final, "wb") as out:
                    out.write(b"\\.\n")
            toc_entries.append(PGT.table_data_entry(name, fields, fname))
            mapping[name] = fname
        # a structurally real pg_dump -Fd binary toc (pgdump_toc module)
        # — restorable archive layout, and still byte-scannable by both
        # parse_toc above and the reference's reader.rs:88-134 scanner
        PGT.write_toc(os.path.join(out_dir, "toc.dat"),
                      PGT.session_setup_entries() + toc_entries)
        return mapping
    finally:
        els.unpersist()
