"""End-to-end entity pipeline on Mongo-shaped fixtures, validated with
the reference's own checks (scripts/validate_migration.py — SURVEY §5):
count reconciliation, lookup-table cardinality invariants, UUID5
determinism re-derivation, orphan anti-joins, transformation
post-conditions (phones, DNI, redaction, banned types, bucket URLs),
and replayability (two runs → identical ids).
"""

from __future__ import annotations

import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.fixtures import BANNED_TYPES, all_sources, users_df
from mongodb_etl_migration_spark.functions.crypto import make_url_decrypt_rewrite
from mongodb_etl_migration_spark.operators.validation import (
    orphan_check,
    set_membership_violations,
)
from mongodb_etl_migration_spark.pipeline import (
    FILEURL_IV,
    FILEURL_KEY,
    messages_spec,
    run_reference_pipeline,
    user_spec,
)
from mongodb_etl_migration_spark.plans.compiler import compile_entity

RUN_TS = datetime(2021, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def outputs(spark):
    src = all_sources(spark)
    out = run_reference_pipeline(src, RUN_TS)
    yield src, out


def test_count_reconciliation(outputs):
    src, out = outputs
    # users: only USER_ROLE/AGENTE_ROLE migrate (P6)
    want = src["users"].filter(
        F.col("role").isin("USER_ROLE", "AGENTE_ROLE")
    ).count()
    assert out["user"].count() == want
    assert out["users_cassandra"].count() == want
    assert out["role"].count() == src["roles"].count()
    assert out["province"].count() == src["provinces"].count()
    # rooms: every room lands in room_details AND rooms_by_mongo
    assert out["room_details"].count() == src["rooms"].count()
    assert out["rooms_by_mongo"].count() == src["rooms"].count()


def test_lookup_cardinality_invariants(outputs):
    _, out = outputs
    # validate_migration.py:272-402: reverse-lookup tables match 1:1
    assert out["room_by_message"].count() == out["messages_by_room"].count()
    assert (
        out["room_membership_lookup"].count()
        == out["participants_by_room"].count()
    )
    assert out["rooms_by_user"].count() == out["participants_by_room"].count()
    assert (
        out["room_membership_lookup_updated"].count()
        == out["room_membership_lookup"].count()
    )


def test_uuid5_determinism_rederivation(outputs):
    # validate_migration.py:234-270: room_id == uuid5(NAMESPACE_OID, mongo_id)
    _, out = outputs
    sample = out["room_details"].select("mongo_id", "room_id").limit(20).collect()
    assert sample
    for row in sample:
        assert row["room_id"] == str(
            uuid.uuid5(uuid.NAMESPACE_OID, row["mongo_id"])
        )


def test_message_filters_and_orphans(outputs):
    src, out = outputs
    msgs = out["messages_by_room"]
    # referential integrity: all message room_ids ∈ room_details (J11)
    assert (
        set_membership_violations(
            msgs.select("room_id"), out["room_details"].select("room_id"), "room_id"
        ).count()
        == 0
    )
    # no unresolved sender would break the left join shape; orphan check
    # on sender_id against users must be empty for non-null senders (J10)
    assert (
        orphan_check(
            msgs.filter(F.col("sender_id").isNotNull()),
            out["user"].select(F.col("id").alias("user_id")),
            "sender_id",
            "user_id",
        ).count()
        == 0
    )
    # banned message types absent (validate_migration.py:541-566) —
    # check via surviving mongo_ids mapped back to the source
    banned_src = src["messages"].filter(F.col("msgType").isin(*BANNED_TYPES))
    leaked = msgs.join(
        banned_src.select(F.col("_id").alias("mongo_id")), "mongo_id", "inner"
    )
    assert leaked.count() == 0
    # DOCUMENTO non-pdf dropped, pdf kept with application/pdf mime (F21)
    assert (
        msgs.filter(
            (F.col("mime_type") == "application/pdf")
            & ~F.col("file_url").endswith(".pdf")
        ).count()
        == 0
    )
    # no gs:// bucket URLs survive (validate_migration.py:451-539)
    assert msgs.filter(F.col("file_url").startswith("gs://")).count() == 0


def test_user_postconditions(outputs):
    src, out = outputs
    user = out["user"]
    # phones digits-only in PG, '+'-prefixed in Cassandra
    assert (
        user.filter(
            F.col("phone").isNotNull() & (F.col("phone") != "")
            & ~F.col("phone").rlike("^[0-9]+$")
        ).count()
        == 0
    )
    cass = out["users_cassandra"]
    assert (
        cass.filter(
            F.col("phone").isNotNull() & (F.col("phone") != "")
            & ~F.col("phone").rlike("^\\+[0-9]+$")
        ).count()
        == 0
    )
    # DNI format: hyphen after the type letter (validate_migration.py:874+)
    assert (
        user.filter(
            F.col("dni").isNotNull() & (F.col("dni") != "")
            & ~F.col("dni").rlike("^[VEJGP]-")
        ).count()
        == 0
    )
    # F28 redaction: inactive users scrubbed, originals preserved
    redacted = user.filter(F.col("deleted_at").isNotNull())
    assert redacted.count() > 0
    bad = redacted.filter(
        (F.col("name") != "Deleted User")
        | (F.col("email") != "")
        | (F.col("phone") != "")
        | F.col("deleted_name").isNull()
    )
    assert bad.count() == 0
    # profileStatus constant
    assert user.filter(F.col("profile_status") != "COMPLETED").count() == 0
    # role FK resolved for every user (role names always valid in fixtures)
    assert user.filter(F.col("role_id").isNull()).count() == 0


def test_room_derivations(outputs):
    src, out = outputs
    rd = out["room_details"]
    # organizations = rooms with isAdmin=true (validate_migration.py:404-449)
    want_orgs = src["rooms"].filter(F.coalesce(F.col("isAdmin"), F.lit(False)))
    assert out["organizations"].count() == want_orgs.count()
    # p2p permission triple: send=true, add=false (F9)
    p2p = rd.filter(F.col("room_type") == "p2p")
    assert p2p.filter(~F.col("send_message") | F.col("add_member")).count() == 0
    # every room has a non-empty name (default synthesized)
    assert rd.filter(F.col("room_name").isNull() | (F.col("room_name") == "")).count() == 0


def test_p2p_pairs_both_orderings(outputs):
    _, out = outputs
    pairs = out["p2p_room_by_users"]
    n = pairs.count()
    assert n > 0 and n % 2 == 0
    # symmetric: (u1,u2,room) present ⇔ (u2,u1,room) present
    sym = pairs.select(
        F.col("user2_id").alias("user1_id"),
        F.col("user1_id").alias("user2_id"),
        "room_id",
    )
    assert pairs.exceptAll(sym).count() == 0
    # rooms with ≠2 members were skipped: pair rooms all have exactly 2
    members_per_room = (
        out["participants_by_room"]
        .join(pairs.select("room_id").distinct(), "room_id")
        .groupBy("room_id")
        .count()
    )
    assert members_per_room.filter(F.col("count") < 2).count() == 0


def test_rooms_by_user_denorm(outputs):
    _, out = outputs
    rbu = out["rooms_by_user"]
    # every row carries room attrs; last_message_at always set (room
    # created_at fallback for message-less rooms)
    assert rbu.filter(F.col("room_name").isNull()).count() == 0
    assert rbu.filter(F.col("last_message_at").isNull()).count() == 0
    # J8 merge: lookup rows matched by a rooms_by_user row got its
    # last_message_at
    upd = out["room_membership_lookup_updated"]
    assert upd.filter(F.col("last_message_at").isNull()).count() == 0


def test_replayability_two_runs_identical(spark, outputs):
    src, out1 = outputs
    out2 = run_reference_pipeline(all_sources(spark), RUN_TS)
    for name in ("user", "room_details", "messages_by_room"):
        a, b = out1[name], out2[name]
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0, f"{name} differs between runs"


def test_orphan_room_refs_dropped(outputs):
    src, out = outputs
    # fixture emits some messages pointing at nonexistent rooms — the
    # inner id-map join skips exactly those (id_mapper miss semantics);
    # recompute the expected survivor count independently
    from mongodb_etl_migration_spark.functions.crypto import (
        make_salsa20_decrypt_udf,
    )
    from mongodb_etl_migration_spark.pipeline import (
        BANNED_MSG_TYPES,
        FILEURL_IV,
        FILEURL_KEY,
    )

    # independent recompute: the DOCUMENTO .pdf gate tests the
    # DECRYPTED url (plaintext fallback), as the reference does
    dec = make_salsa20_decrypt_udf(FILEURL_KEY, FILEURL_IV)
    plain_url = F.coalesce(F.nullif(dec(F.col("fileURL")), F.lit("")), F.col("fileURL"))
    survivors = (
        src["messages"]
        .filter(
            (
                F.col("msgType").isNull()
                | ~F.col("msgType").isin(*BANNED_MSG_TYPES)
            )
            & (
                F.col("msgLife").isNull()
                | (F.col("msgLife") != "TOUCH_SHOW_DELETE")
            )
            & F.coalesce(F.col("isActive"), F.lit(True))
            & ~F.coalesce(F.col("isDeleted"), F.lit(False))
            & (
                F.col("fileURL").isNull()
                | (F.col("fileURL") == "")
                | F.col("fileType").isNull()
                | (F.col("fileType") != "DOCUMENTO")
                | plain_url.endswith(".pdf")
            )
        )
        .join(
            src["rooms"].select(F.col("_id").alias("room")), "room", "inner"
        )
        .count()
    )
    assert out["messages_by_room"].count() == survivors


def test_encrypted_fileurl_decrypted_before_gate_and_rewrite(outputs):
    """ADVICE round 1: an encrypted DOCUMENTO .pdf must survive the
    gate, and every emitted file_url must be plaintext (decrypted) and
    bucket-rewritten — never base64 ciphertext."""
    src, out = outputs
    msgs = out["messages_by_room"]
    urls = [r.file_url for r in msgs.select("file_url").collect() if r.file_url]
    assert urls, "expected surviving attachments"
    # ciphertext is base64 with no dot-extension; plaintext ends .png/.pdf/.mp3
    assert all(u.endswith((".png", ".pdf", ".mp3")) for u in urls), urls[:5]
    # bucket rewrite applied to the DECRYPTED value
    assert any(u.startswith("siscom_old/") for u in urls)
    assert not any(u.startswith("gs://sibci-") for u in urls)
    # encrypted DOCUMENTO .pdf rows (fixture: i%22 == 14) survived
    enc_pdf_src = src["messages"].filter(
        (F.col("fileType") == "DOCUMENTO") & ~F.col("fileURL").contains(".")
    )
    kept = msgs.join(
        enc_pdf_src.select(F.col("_id").alias("mongo_id")), "mongo_id", "inner"
    )
    assert kept.count() > 0, "no encrypted-.pdf DOCUMENTO message survived"
    # and their mime resolved from the decrypted URL
    assert all(
        r.mime_type == "application/pdf"
        for r in kept.select("mime_type").collect()
    )


def test_m2m_user_professions(outputs):
    src, out = outputs
    up = out["user_professions"]
    # inner-join semantics: every row resolves both sides (J4)
    assert up.filter(F.col("user_id").isNull() | F.col("profession_id").isNull()).count() == 0
    # only migrated users contribute (role allow-list upstream)
    migrated = out["user"].select(F.col("id").alias("user_id"))
    assert up.join(migrated, "user_id", "left_anti").count() == 0
    # composite lineage key format: <user_mongo>_<prof_mongo>
    assert up.filter(~F.col("mongo_id").rlike("^[0-9a-f]{24}_[0-9a-f]{24}$")).count() == 0
    # expected cardinality: per migrated user with arrays, 2 entries
    src_pairs = (
        src["users"]
        .filter(F.col("role").isin("USER_ROLE", "AGENTE_ROLE"))
        .filter(F.col("profession").isNotNull())
        .select(F.explode("profession"))
        .count()
    )
    assert up.count() == src_pairs


def test_channel_live_derivations(outputs):
    src, out = outputs
    ch = out["channel"]
    assert ch.count() == src["channels"].count()
    # lives_count = len(lives), missing → 0 (F12)
    assert ch.filter(F.col("lives_count").isNull() | (F.col("lives_count") < 0)).count() == 0
    # no gs:// URLs survive the rewrite (F5)
    for c in ("picture", "cover"):
        assert ch.filter(F.col(c).startswith("gs://")).count() == 0

    lv = out["live"]
    assert lv.count() == src["lives"].count()
    # F10: constants and conditionals
    assert lv.filter(F.col("live_type") != "YOUTUBE").count() == 0
    assert lv.filter(~F.col("status").isin("FINISHED", "LIVE")).count() == 0
    assert lv.filter(~F.col("category").isin("FEATURED", "MORE_TO_SEE")).count() == 0
    # soft delete: deleted_at set exactly for isActive=false sources
    n_inactive = src["lives"].filter(~F.coalesce(F.col("isActive"), F.lit(True))).count()
    assert lv.filter(F.col("deleted_at").isNotNull()).count() == n_inactive
    # F11 5-way coalesce: every live had exactly one photo variant set
    assert lv.filter(F.col("photo_url").isNull()).count() == 0
    assert lv.filter(F.col("photo_url").startswith("gs://")).count() == 0


def test_docs_hierarchy_and_roles(outputs):
    src, out = outputs
    docs = out["docs"]
    active_src = src["docs"].filter(F.coalesce(F.col("isActive"), F.lit(True)))
    assert docs.count() == active_src.count()
    # folder parents resolve to folder ids; files with orphan paths → 0
    folders = docs.filter(F.col("type") == "FOLDER")
    folder_ids = {r["id"] for r in folders.select("id").collect()}
    for r in docs.collect():
        assert r["parent_id"] == 0 or r["parent_id"] in folder_ids
    # known tree shape: /legal/contracts's parent is /legal
    legal = folders.filter(F.col("path") == "/legal").head()
    contracts = folders.filter(F.col("path") == "/legal/contracts").head()
    assert contracts["parent_id"] == legal["id"]
    # orphan-path files default to root (fixture plants them)
    orphan_files = docs.filter(F.col("path").startswith("/orphan/"))
    assert orphan_files.count() > 0
    assert orphan_files.filter(F.col("parent_id") != 0).count() == 0
    # ids are unique across folders+files
    assert docs.select("id").distinct().count() == docs.count()
    # F26: encrypted fileURLs decrypted, plaintext passed through, all
    # bucket-rewritten — every file URL is a clean .pdf, never gs://
    file_urls = docs.filter(F.col("type") != "FOLDER")
    assert file_urls.filter(~F.col("file_url").endswith(".pdf")).count() == 0
    assert file_urls.filter(F.col("file_url").startswith("gs://")).count() == 0
    assert (
        file_urls.filter(F.col("file_url").startswith("siscom_old/")).count() > 0
    )
    # J12: docs_roles rows only for docs with specialRole, both ids resolved
    dr = out["docs_roles"]
    want = active_src.filter(
        F.coalesce(F.col("specialRole")["_id"], F.col("specialRole")["raw"]).isNotNull()
    ).count()
    assert dr.count() == want
    assert dr.filter(F.col("docs_id").isNull() | F.col("role_id").isNull()).count() == 0


def test_geo_dimensions_and_p2p_permission_triple(outputs):
    src, out = outputs
    # municipality resolves its province FK; parroquia resolves both,
    # with dangling municipality refs (fixture i%11==10) ⇒ NULL
    muni = out["municipality"]
    assert muni.count() == src["municipalities"].count() > 0
    assert muni.filter(F.col("province_id").isNull()).count() == 0
    parr = out["parroquia"]
    assert parr.count() == src["parroquias"].count() > 0
    assert parr.filter(F.col("province_id").isNull()).count() == 0
    assert parr.filter(F.col("municipality_id").isNull()).count() > 0  # misses
    # users carry a resolved municipality_id (all fixture refs valid)
    assert out["user"].filter(F.col("municipality_id").isNull()).count() == 0

    # reference-validated p2p permission triple (send=T, add=F, edit=T);
    # groups keep edit=F (data_transformer.py:537-556)
    rooms = out["room_details"]
    p2p = rooms.filter(F.col("room_type") == "p2p")
    assert p2p.count() > 0
    assert p2p.filter(
        (~F.col("send_message")) | F.col("add_member") | (~F.col("edit_group"))
    ).count() == 0
    grp = rooms.filter(F.col("room_type") == "group")
    assert grp.filter(F.col("edit_group")).count() == 0


def test_messages_snake_case_and_created_at_fallback(outputs):
    src, out = outputs
    msgs = out["messages_by_room"]
    assert "file_name" in msgs.columns and "file_size" in msgs.columns
    assert "fileName" not in msgs.columns
    # fixture rows with NULL createdAt (i%6==5) fall back to run_ts —
    # created_at and the timeuuid key are never NULL
    assert msgs.filter(F.col("created_at").isNull()).count() == 0
    assert msgs.filter(F.col("message_id").isNull()).count() == 0


def test_messages_plan_single_decrypt_stage(outputs):
    """The Salsa20 URL decrypt must appear EXACTLY once in the physical
    plan even though both the .pdf post-filter and two projection
    columns consume it (round-2 perf defect: Catalyst's pushdown
    substitution doubled the ArrowEvalPython stage — the hottest
    Python work on the 100 TB messages path).

    Checked on the compiled entity, not on ``messages_by_room``: the
    pipeline's fan-out outputs read a lazy localCheckpoint, so their
    plans are checkpoint scans that no longer show the decrypt."""
    src, out = outputs
    id_maps = {
        "rooms_by_mongo": out["rooms_by_mongo"].select(
            F.col("mongo_id").alias("natural_key"), F.col("room_id").alias("id")
        ),
        "user_by_mongo": out["user"].select(
            F.col("mongo_id").alias("natural_key"), F.col("id")
        ),
    }
    spec = messages_spec(RUN_TS, make_url_decrypt_rewrite(FILEURL_KEY, FILEURL_IV))
    plan = (
        compile_entity(spec, src["messages"], id_maps)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("_decrypt_fb") == 1
    # total Python stages: ONLY the decrypt remains — the uuid5/timeuuid
    # key builders became pure Column expressions in r14 (JVM sha1),
    # so a regression re-adding a Python hop fails here
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_compile_entity_missing_id_map_raises(spark):
    with pytest.raises(KeyError, match="province"):
        compile_entity(user_spec(RUN_TS), users_df(spark), {})


def test_pipeline_leaves_no_cache_entries(spark):
    """Two full runs, every output written, outputs dropped: the
    session's CacheManager is empty — fan-out materialization is a
    lazy localCheckpoint owned by the RDD, with nothing to unpersist."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    # other tests in the session may have cached frames; clear them so
    # the assertion sees only what the pipeline leaves behind
    spark.catalog.clearCache()
    for _ in range(2):
        out = run_reference_pipeline(all_sources(spark), RUN_TS)
        for df in out.values():
            df.write.format("noop").mode("overwrite").save()
        del out
    assert cm.isEmpty(), "run_reference_pipeline leaked CacheManager entries"
