"""The reference migration as one lazy Spark pipeline.

Re-expresses the orchestrator's 15-entity run (etl/orchestrator.py:
149-298, post-migration :1106-1471) over Mongo-shaped sources:
entity specs compile to DataFrame plans (plans/), derived Cassandra
views are operator compositions (operators/denorm.py), and every
output is a pure function of the sources — the reference's
"read back from the sink mid-run" disappears (SURVEY §7.4.5).

Scale notes: dimension id-maps are broadcast (the IDMapper cache,
etl/utils/id_mapper.py:22-92, as broadcast-hash joins); the
messages⋈rooms join is the one fact-side join — rooms is
dimension-sized so it broadcasts too; at 100 TB the heavy lifting
(messages, members) never shuffles except for the denormalized
rooms_by_user window.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.functions import scalars as S
from mongodb_etl_migration_spark.functions.crypto import make_url_decrypt_rewrite
from mongodb_etl_migration_spark.functions.keys import (
    assign_sequential_ids,
    timeuuid_deterministic,
    uuid5_oid,
)
from mongodb_etl_migration_spark.operators import denorm as DN
from mongodb_etl_migration_spark.operators.hierarchy import (
    resolve_files_to_folders,
    resolve_folder_tree,
)
from mongodb_etl_migration_spark.plans.compiler import (
    compile_entity,
    compile_entity_outputs,
)
from mongodb_etl_migration_spark.plans.spec import EntitySpec, FKJoin
from mongodb_etl_migration_spark.threads import DriverThreads

# union of the scan-level filter (mongo_extractor.py:56-72) and the
# validator list (validators.py:18, adds STICKER) — SURVEY P5 notes the
# discrepancy; validator wins (ENABLE_VALIDATION=true semantics).
BANNED_MSG_TYPES = ("GEO_LOCATION", "SURVEY", "CONTACT", "STICKER")

# Source-data Salsa20 config (the reference reads these from
# etl/config/settings.py:85-90; fixtures encrypt with the same values)
FILEURL_KEY = "fixture-fileurl-key"
FILEURL_IV = "f-iv-123"


def ref_id(c: Column | str) -> Column:
    """Bare-ObjectId-or-embedded-doc reference → string id
    (data_transformer.py:278-299, field_mapper.py:511-518)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col["_id"], col["raw"])


def url_of(c: str) -> Column:
    """string-or-{url} picture/cover drift → url string
    (field_mapper.py:392-447)."""
    return F.coalesce(F.col(c)["url"], F.col(c)["raw"])


# --------------------------------------------------------------- specs
def role_spec() -> EntitySpec:
    return EntitySpec(
        destination="role",
        projection={
            "mongo_id": F.col("_id"),
            "name": F.col("name"),
            "type": F.coalesce(F.col("type"), F.lit("app")),
            "is_default": F.coalesce(F.col("default"), F.lit(False)),
        },
        sequential_id=True,
    )


def province_spec() -> EntitySpec:
    return EntitySpec(
        destination="province",
        projection={
            "mongo_id": F.col("_id"),
            "name": F.col("name"),
            "key": F.col("key"),
            "key_int": S.keyint_default("keyInt"),
            "latitude": F.col("latitude").cast("decimal(10,8)"),
            "longitude": F.col("longitude").cast("decimal(11,8)"),
        },
        sequential_id=True,
    )


def municipality_spec() -> EntitySpec:
    """PG `municipality` — data_transformer.py:680-698 (J1:
    municipality→province FK resolved via the id-map)."""
    return EntitySpec(
        destination="municipality",
        derivations={"province_ref": ref_id("province")},
        fk_joins=(FKJoin(dim="province", on="province_ref", out="province_id"),),
        projection={
            "mongo_id": F.col("_id"),
            "name": F.col("name"),
            "province_id": F.col("province_id"),
        },
        sequential_id=True,
    )


def parroquia_spec() -> EntitySpec:
    """PG `parroquia` — data_transformer.py:700-728 (J1: parroquia →
    province AND municipality FKs)."""
    return EntitySpec(
        destination="parroquia",
        derivations={
            "province_ref": ref_id("province"),
            "municipality_ref": ref_id("municipality"),
        },
        fk_joins=(
            FKJoin(dim="province", on="province_ref", out="province_id"),
            FKJoin(dim="municipality", on="municipality_ref", out="municipality_id"),
        ),
        projection={
            "mongo_id": F.col("_id"),
            "name": F.col("name"),
            "province_id": F.col("province_id"),
            "municipality_id": F.col("municipality_id"),
        },
        sequential_id=True,
    )


def user_spec(run_ts: datetime) -> EntitySpec:
    """PG `user` destination — field_mapper.py:22-88 +
    data_transformer.py:210-321 (normalizers, F28 redaction, J1/J3)."""
    deleted = ~F.coalesce(F.col("isActive"), F.lit(True))
    name_col = F.coalesce(F.col("displayName"), F.col("name"))

    return EntitySpec(
        destination="user",
        filters=(
            # P6: only USER_ROLE/AGENTE_ROLE migrate (orchestrator.py:547-566)
            F.col("role").isin("USER_ROLE", "AGENTE_ROLE"),
        ),
        derivations={
            "province_ref": ref_id("province"),
            "municipality_ref": ref_id("municipality"),
            "role_name_key": S.role_name_normalize(F.col("userType")),
        },
        fk_joins=(
            FKJoin(dim="province", on="province_ref", out="province_id"),
            FKJoin(dim="municipality", on="municipality_ref", out="municipality_id"),
            FKJoin(dim="role_by_name", on="role_name_key", out="role_id"),
        ),
        projection={
            "mongo_id": F.col("_id"),
            "uuid": F.col("uuid"),
            "name": F.when(deleted, F.lit("Deleted User")).otherwise(name_col),
            "full_name": F.col("fullName"),
            "email": F.when(deleted, F.lit("")).otherwise(S.email_normalize("email")),
            "phone": F.when(deleted, F.lit("")).otherwise(
                S.phone_digits(F.coalesce(F.col("phoneNumber"), F.col("phone")))
            ),
            "dni": F.when(deleted, F.lit("")).otherwise(
                S.dni_format(F.coalesce(F.col("cedula"), F.col("dni")))
            ),
            "birthdate": F.coalesce(F.col("birthDate"), F.col("birthdate")),
            "gender": S.gender_normalize("gender"),
            "avatar": S.bucket_url_rewrite(
                F.coalesce(F.col("photoURL"), F.col("avatar"))
            ),
            "profile_status": F.lit("COMPLETED"),
            "socialmedia_x": F.col("socialMedia")["x"],
            "socialmedia_instagram": F.col("socialMedia")["instagram"],
            "socialmedia_telegram": F.col("socialMedia")["telegram"],
            "province_id": F.col("province_id"),
            "municipality_id": F.col("municipality_id"),
            "role_id": F.col("role_id"),
            # F28 redaction side-columns
            "deleted_name": F.when(deleted, name_col),
            "deleted_email": F.when(deleted, S.email_normalize("email")),
            "deleted_at": F.when(deleted, F.lit(run_ts)),
            "created_at": F.coalesce(F.col("createdAt"), F.lit(run_ts)),
        },
        sequential_id=True,
        # dual destination (orchestrator.py:455-507): the Cassandra
        # users projection shares ids with PG by construction (K4)
        side_outputs={
            "users_cassandra": (
                None,
                {
                    "user_id": F.col("id"),
                    "mongo_id": F.col("mongo_id"),
                    "name": F.col("name"),
                    "phone": S.phone_e164ish(F.col("phone")),
                    "role_id": F.col("role_id"),
                },
            )
        },
    )


def rooms_spec(run_ts: datetime) -> EntitySpec:
    """Cassandra room_details + organizations + rooms_by_mongo fanout
    (field_mapper.py:94-113, orchestrator.py:326-373) — one compiled
    frame, three destinations (§2.9)."""
    is_group = F.coalesce(F.col("isGroup"), F.lit(False))

    return EntitySpec(
        destination="room_details",
        projection={
            "mongo_id": F.col("_id"),
            "room_name": F.coalesce(
                F.nullif(F.col("name"), F.lit("")),
                F.concat(F.lit("Room "), F.col("_id")),
            ),
            "room_type": S.room_type("isBroadcast", "isGroup"),
            # F9 permission derivation
            "send_message": F.when(
                is_group,
                F.coalesce(
                    F.col("permissions")["canSendMessage"],
                    F.col("canWrite"),
                    F.lit(True),
                ),
            ).otherwise(F.lit(True)),
            "add_member": F.when(is_group, F.lit(True)).otherwise(F.lit(False)),
            # data_transformer.py:537-556: groups keep the edit=False
            # default; the NON-group branch (p2p — and the reference
            # routes broadcast there too) sets edit_group=True. The
            # validated p2p triple is (send=T, add=F, edit=T).
            "edit_group": F.when(is_group, F.lit(False)).otherwise(F.lit(True)),
            "join_all_user": F.coalesce(F.col("isPublic"), F.lit(False)),
            "_is_organization": F.coalesce(F.col("isAdmin"), F.lit(False)),
            "created_at": F.coalesce(F.col("createdAt"), F.lit(run_ts)),
        },
        keys={"room_id": uuid5_oid("mongo_id")},
        side_outputs={
            "organizations": (
                F.col("_is_organization"),
                {
                    "room_id": F.col("room_id"),
                    "mongo_id": F.col("mongo_id"),
                    "room_name": F.col("room_name"),
                    "created_at": F.col("created_at"),
                },
            ),
            "rooms_by_mongo": (
                None,
                {
                    "mongo_id": F.col("mongo_id"),
                    "room_id": F.col("room_id"),
                },
            ),
        },
    )


# ------------------------------------------------------------ pipeline
def messages_spec(
    run_ts: datetime, decrypt_rewrite: Callable[[Column | str], Column]
) -> EntitySpec:
    """Cassandra messages_by_room + room_by_message —
    field_mapper.py:119-149, filters from mongo_extractor.py:56-72 ∪
    validators.py:18 (P4/P5), P7 sentinel hoisted, K2 timeuuid key.

    fileURL handling mirrors data_transformer.py:397-452 exactly:
    Salsa20-decrypt with plaintext fallback FIRST, then bucket-rewrite
    the decrypted value, and only then apply the DOCUMENTO '.pdf' gate
    (case-sensitive) to the rewritten plaintext — an encrypted PDF
    attachment must survive the gate, and a non-DOCUMENTO encrypted URL
    must be emitted decrypted. An absent/empty fileURL skips the whole
    block (row kept, file_url/mime_type stay NULL).

    ``decrypt_rewrite`` is the run's one
    ``crypto.make_url_decrypt_rewrite`` builder, shared with the docs
    stage (see :func:`run_reference_pipeline`)."""
    has_url = F.col("fileURL").isNotNull() & (F.col("fileURL") != "")
    # cast via instant: TIMESTAMP_NTZ has no direct double cast
    created_ms = (
        F.col("created_at").cast("timestamp").cast("double") * 1000
    ).cast("bigint")
    return EntitySpec(
        destination="messages_by_room",
        filters=(
            # $nin matches documents where the field is ABSENT
            # (mongo_extractor.py:63-64): NULL msgType passes.
            (F.col("msgType").isNull() | ~F.col("msgType").isin(*BANNED_MSG_TYPES))
            & (
                F.col("msgLife").isNull()
                | (F.col("msgLife") != F.lit("TOUCH_SHOW_DELETE"))
            )
            # tri-valued: missing isActive counts as active (§7.4.6)
            & F.coalesce(F.col("isActive"), F.lit(True))
            & ~F.coalesce(F.col("isDeleted"), F.lit(False)),
        ),
        derivations={
            "sender_ref": ref_id("sender"),
            # F26: decrypt (fallback to raw when not decryptable, i.e.
            # already-plaintext), then F5 bucket rewrite — the order the
            # reference uses; the .pdf gate below sees THIS value.
            "file_url_rw": decrypt_rewrite("fileURL"),
        },
        post_filters=(
            # F21/P7: DOCUMENTO attachments must be .pdf — tested on the
            # decrypted, rewritten URL (data_transformer.py:433-443).
            # Empty/absent fileURL skips the gate entirely.
            ~has_url
            | F.col("fileType").isNull()
            | (F.col("fileType") != "DOCUMENTO")
            | F.col("file_url_rw").endswith(".pdf"),
        ),
        fk_joins=(
            # unresolved room refs are skipped (id_mapper miss ⇒ inner)
            FKJoin(dim="rooms_by_mongo", on="room", out="room_id", how="inner"),
            FKJoin(dim="user_by_mongo", on="sender_ref", out="sender_id"),
        ),
        projection={
            "room_id": F.col("room_id"),
            "mongo_id": F.col("_id"),
            "sender_id": F.col("sender_id"),
            "content": S.content_truncate(
                F.coalesce(F.col("message"), F.col("content"), F.lit(""))
            ),
            # mime/file_url only materialize when a fileURL was present
            # (reference leaves them unset otherwise).
            "mime_type": F.when(
                has_url, S.mime_from_filetype("fileType", "file_url_rw")
            ),
            "file_url": F.when(has_url, F.col("file_url_rw")),
            # destination columns are snake_case (schema_manager adds
            # messages_by_room.file_name/file_size, SURVEY S12)
            "file_name": F.col("fileName"),
            "file_size": F.col("fileSize"),
            # missing createdAt falls back to the injected run_ts (the
            # reference's datetime.now() default, replayable §7.4.7) —
            # a NULL here would null the timeuuid PRIMARY KEY
            "created_at": F.coalesce(F.col("createdAt"), F.lit(run_ts)),
        },
        keys={"message_id": timeuuid_deterministic("mongo_id", created_ms)},
        side_outputs={
            "room_by_message": (
                None,
                {
                    "message_id": F.col("message_id"),
                    "room_id": F.col("room_id"),
                    "mongo_id": F.col("mongo_id"),
                },
            )
        },
    )


def members_spec(run_ts: datetime) -> EntitySpec:
    """participants_by_room + room_membership_lookup —
    field_mapper.py:155-166 (F20 role uppercase, default MEMBER)."""
    return EntitySpec(
        destination="participants_by_room",
        derivations={
            "room_ref": ref_id("room"),
            "user_ref": ref_id("user"),
        },
        fk_joins=(
            FKJoin(dim="rooms_by_mongo", on="room_ref", out="room_id", how="inner"),
            FKJoin(dim="user_by_mongo", on="user_ref", out="user_id", how="inner"),
        ),
        projection={
            "room_id": F.col("room_id"),
            "user_id": F.col("user_id"),
            "role": S.upper_role(F.col("role")),
            "mongo_id": F.col("_id"),
            "joined_at": F.coalesce(F.col("joinedAt"), F.lit(run_ts)),
        },
        side_outputs={
            "room_membership_lookup": (
                None,
                {
                    "user_id": F.col("user_id"),
                    "room_id": F.col("room_id"),
                    "role": F.col("role"),
                    "last_message_at": F.lit(None).cast("timestamp"),
                },
            )
        },
    )


def professions_spec() -> EntitySpec:
    return EntitySpec(
        destination="profession",
        projection={
            "mongo_id": F.col("_id"),
            "name": F.col("name"),
            "name_es": F.col("name_es"),
        },
        sequential_id=True,
    )


def channel_spec(run_ts: datetime) -> EntitySpec:
    """PG channel — field_mapper.py:172-187 (F11-ish url coalesce, F12
    array length, J1 createdBy FK)."""
    return EntitySpec(
        destination="channel",
        derivations={"created_by_ref": ref_id("createdBy")},
        fk_joins=(
            FKJoin(dim="user_by_mongo", on="created_by_ref", out="created_by"),
        ),
        projection={
            "mongo_id": F.col("_id"),
            "name": F.col("name"),
            "description": F.col("description"),
            "is_active": F.coalesce(F.col("isActive"), F.col("visible"), F.lit(True)),
            "picture": S.bucket_url_rewrite(url_of("picture")),
            "cover": S.bucket_url_rewrite(url_of("cover")),
            "lives_count": F.when(F.col("lives").isNull(), F.lit(0)).otherwise(
                F.size(F.col("lives"))
            ),
            "created_by": F.col("created_by"),
            "created_at": F.coalesce(F.col("createdAt"), F.lit(run_ts)),
        },
        sequential_id=True,
    )


def live_spec(run_ts: datetime) -> EntitySpec:
    """PG live — field_mapper.py:218-241 (F10 derivations, F11 5-way
    photo coalesce + F5 rewrite, soft delete)."""
    return EntitySpec(
        destination="live",
        derivations={"channel_ref": ref_id("channel")},
        fk_joins=(FKJoin(dim="channel_by_mongo", on="channel_ref", out="channel_id"),),
        projection={
            "mongo_id": F.col("_id"),
            "title": F.coalesce(F.col("title"), F.col("name")),
            "description": F.col("description"),
            "photo_url": S.bucket_url_rewrite(
                F.coalesce(
                    url_of("photoURL"),
                    url_of("coverImage"),
                    url_of("thumbnail"),
                    url_of("cover"),
                    url_of("image"),
                )
            ),
            "status": F.when(
                F.coalesce(F.col("isFinished"), F.lit(False)), "FINISHED"
            ).otherwise("LIVE"),
            "live_type": F.lit("YOUTUBE"),
            "category": F.when(
                F.coalesce(F.col("isFeatured"), F.lit(False)), "FEATURED"
            ).otherwise("MORE_TO_SEE"),
            "viewers": F.lit(0),
            "live_url": F.coalesce(F.col("liveUrl"), F.col("url")),
            "channel_id": F.col("channel_id"),
            "deleted_at": F.when(
                ~F.coalesce(F.col("isActive"), F.lit(True)), F.lit(run_ts)
            ),
        },
        sequential_id=True,
    )


def _id_map(df: DataFrame, key: str = "mongo_id", id_col: str = "id") -> DataFrame:
    """An entity's (natural_key, id) map for :class:`FKJoin`."""
    return df.select(F.col(key).alias("natural_key"), F.col(id_col).alias("id"))


def _docs(docs: DataFrame, decrypt_rewrite) -> DataFrame:
    """J9: the folder tree, then the files numbered after its folders.

    One task, planned in this order. A loaded mongodump frame leaks
    pushed filters into its next query that pushes none (the xfail
    test in tests/test_mongodump_source.py): the files branch inherits
    the folders query's ``type = 'FOLDER'``, so today's output depends
    on this order."""
    folders = docs.filter(F.col("type") == "FOLDER").select(
        F.col("_id").alias("mongo_id"),
        S.full_path(
            F.col("onFolder"), F.coalesce(F.col("title"), F.col("name"))
        ).alias("path"),
    )
    tree = resolve_folder_tree(folders.select("path"), "path")
    folder_docs = folders.join(F.broadcast(tree), "path", "inner").select(
        "mongo_id",
        F.col("path"),
        F.col("folder_id").alias("id"),
        "parent_id",
        F.lit("FOLDER").alias("type"),
        F.lit(None).cast("string").alias("file_url"),
    )
    n_folders = tree.count()
    raw_url = F.coalesce(F.col("fileUrl"), F.col("fileURL"))
    # NULL-safe non-folder test: the reference's `doc.type != 'FOLDER'`
    # is True for a missing type (doc treated as a file), but the
    # tri-valued Column comparison would silently DROP those docs
    files = docs.filter(
        F.col("type").isNull() | (F.col("type") != "FOLDER")
    ).select(
        F.col("_id").alias("mongo_id"),
        F.col("onFolder").alias("on_folder"),
        "type",
        decrypt_rewrite(raw_url).alias("file_url"),
    )
    files_resolved = resolve_files_to_folders(
        files, tree.select("path", "folder_id"), "on_folder"
    )
    file_docs = assign_sequential_ids(
        files_resolved, ["mongo_id"], "id", start=n_folders + 1
    ).select(
        "mongo_id",
        F.col("on_folder").alias("path"),
        "id",
        "parent_id",
        "type",
        "file_url",
    )
    return folder_docs.unionByName(file_docs)


def run_reference_pipeline(
    sources: dict[str, DataFrame],
    run_ts: datetime,
    fileurl_key: str = FILEURL_KEY,
    fileurl_iv: str = FILEURL_IV,
) -> dict[str, DataFrame]:
    """Execute the full migration; returns every output table.

    ``run_ts`` replaces the reference's ``datetime.now()`` defaults so
    runs are replayable (SURVEY §7.4.7). ``fileurl_key``/``fileurl_iv``
    are the Salsa20 settings for encrypted file URLs
    (etl/config/settings.py:85-90); they default to the fixture
    constants, and a production run passes its real key. ONE decrypt
    builder serves both the messages and the docs stage.

    Entity order (O5) is the reference's dependency DAG, not a chain:
    each entity builds on its own driver thread (:mod:`threads`) and
    waits only for the tasks whose id-maps it joins, so independent
    chains overlap. Building is not free: every pin (a sequential id,
    a fan-out, the folder tree) runs the shuffle and broadcast stages
    below it when it is built. The frames derived from the entities
    (p2p, rooms_by_user, the lookup merge, user_professions,
    docs_roles) launch no job and are plain statements once every
    task has returned. Each source's build-time queries belong to one
    task, so they are planned in the same order on every run (see
    :func:`_docs` for why that order matters).
    """
    out: dict[str, DataFrame] = {}
    # F26: fileURL may arrive Salsa20-encrypted in messages and docs
    decrypt_rewrite = make_url_decrypt_rewrite(fileurl_key, fileurl_iv)
    active_docs = sources["docs"].filter(F.coalesce(F.col("isActive"), F.lit(True)))

    with DriverThreads(SparkSession.active()) as threads:
        # dimensions first; geo: municipality (→province) then parroquia
        # (→province+municipality) — data_transformer.py:680-728
        role_task = threads.start(compile_entity, role_spec(), sources["roles"])
        province_task = threads.start(
            compile_entity, province_spec(), sources["provinces"]
        )
        municipality_task = threads.start(
            lambda: compile_entity(
                municipality_spec(),
                sources["municipalities"],
                {"province": _id_map(province_task())},
            )
        )
        parroquia_task = threads.start(
            lambda: compile_entity(
                parroquia_spec(),
                sources["parroquias"],
                {
                    "province": _id_map(province_task()),
                    "municipality": _id_map(municipality_task()),
                },
            )
        )
        user_task = threads.start(
            lambda: compile_entity_outputs(
                user_spec(run_ts),
                sources["users"],
                {
                    "province": _id_map(province_task()),
                    "municipality": _id_map(municipality_task()),
                    # J3: role joined by normalized NAME, not mongo_id
                    "role_by_name": _id_map(role_task(), key="name"),
                },
            )
        )
        # rooms → room_details + organizations + rooms_by_mongo (§2.9)
        rooms_task = threads.start(
            compile_entity_outputs, rooms_spec(run_ts), sources["rooms"]
        )
        profession_task = threads.start(
            compile_entity, professions_spec(), sources["professions"]
        )

        # id maps of the fact entities (K5 as broadcast joins)
        def user_and_rooms() -> dict[str, DataFrame]:
            return {
                "rooms_by_mongo": _id_map(
                    rooms_task()["rooms_by_mongo"], id_col="room_id"
                ),
                "user_by_mongo": _id_map(user_task()["user"]),
            }

        messages_task = threads.start(
            lambda: compile_entity_outputs(
                messages_spec(run_ts, decrypt_rewrite),
                sources["messages"],
                user_and_rooms(),
            )
        )
        members_task = threads.start(
            lambda: compile_entity_outputs(
                members_spec(run_ts), sources["roommembers"], user_and_rooms()
            )
        )
        # channel (F11-ish url coalesce, F12 array length, J1 createdBy
        # FK), then live (F10 derivations, F11 5-way photo coalesce)
        channel_task = threads.start(
            lambda: compile_entity(
                channel_spec(run_ts), sources["channels"], user_and_rooms()
            )
        )
        live_task = threads.start(
            lambda: compile_entity(
                live_spec(run_ts),
                sources["lives"],
                {"channel_by_mongo": _id_map(channel_task())},
            )
        )
        # docs (J9 hierarchy; J12 docs_roles below)
        docs_task = threads.start(_docs, active_docs, decrypt_rewrite)

    # every task has returned (or the block re-raised its first failure)
    out["role"] = role_task()
    out["province"] = province_task()
    out["municipality"] = municipality_task()
    out["parroquia"] = parroquia_task()
    user_outs = user_task()
    user = out["user"] = user_outs["user"]
    # Cassandra users: same ids (K4 solved by construction), '+'-phone
    out["users_cassandra"] = user_outs["users_cassandra"]
    room_outs = rooms_task()
    out["room_details"] = room_outs["room_details"].drop("_is_organization")
    out["organizations"] = room_outs["organizations"]
    out["rooms_by_mongo"] = room_outs["rooms_by_mongo"]
    # messages → messages_by_room + room_by_message
    msg_outs = messages_task()
    messages_by_room = out["messages_by_room"] = msg_outs["messages_by_room"]
    out["room_by_message"] = msg_outs["room_by_message"]
    # members → participants_by_room + room_membership_lookup
    member_outs = members_task()
    members = out["participants_by_room"] = member_outs["participants_by_room"]
    out["room_membership_lookup"] = member_outs["room_membership_lookup"]

    # p2p pairs (J7): both orderings of the two members of p2p rooms
    p2p_rooms = out["room_details"].filter(F.col("room_type") == "p2p")
    p2p_members = members.join(
        F.broadcast(p2p_rooms.select("room_id")), "room_id", "inner"
    )
    out["p2p_room_by_users"] = DN.pair_generation(
        p2p_members,
        "room_id",
        "user_id",
        # 'first two participants' = arrival order (orchestrator.py's
        # insertion order), proxied deterministically by joined_at with
        # user_id as tiebreak — NOT smallest surrogate id
        order_by=[F.col("joined_at"), F.col("user_id")],
    ).select(
        F.col("user1").alias("user1_id"),
        F.col("user2").alias("user2_id"),
        "room_id",
    )

    # rooms_by_user (J5+J6): participants ⟕ room ⟕ last message ⟕ sender
    last_msg = DN.top1_per_group(
        messages_by_room,
        ["room_id"],
        [F.desc("created_at"), F.desc("message_id")],
    ).select(
        "room_id",
        F.col("message_id").alias("last_message_id"),
        F.col("content").alias("last_message_content"),
        F.col("sender_id").alias("last_message_sender_id"),
        F.col("created_at").alias("last_message_at"),
    )
    rooms_by_user = (
        members.select("user_id", "room_id", "role", "joined_at")
        .join(F.broadcast(out["room_details"]), "room_id", "inner")
        .join(F.broadcast(last_msg), "room_id", "left")
        .join(
            F.broadcast(
                user.select(
                    F.col("id").alias("last_message_sender_id"),
                    F.col("name").alias("last_message_sender_name"),
                    F.col("avatar").alias("last_message_sender_avatar"),
                    F.col("mongo_id").alias("last_message_sender_mongo_id"),
                )
            ),
            "last_message_sender_id",
            "left",
        )
        # the reference denormalizes room details + last-message preview
        # + sender info into every membership row
        # (create_scylla_database.cql:57-87)
        .select(
            "user_id",
            "room_id",
            "role",
            "joined_at",
            F.col("mongo_id").alias("room_mongo_id"),
            "room_name",
            "room_type",
            "send_message",
            "add_member",
            "edit_group",
            "join_all_user",
            F.lit(False).alias("is_pinned"),
            F.lit(False).alias("is_muted"),
            F.col("created_at").alias("room_created_at"),
            "last_message_id",
            "last_message_content",
            "last_message_sender_id",
            "last_message_sender_name",
            "last_message_sender_avatar",
            "last_message_sender_mongo_id",
            # participant w/o message falls back to room timestamps
            F.coalesce(F.col("last_message_at"), F.col("created_at")).alias(
                "last_message_at"
            ),
        )
    )
    out["rooms_by_user"] = rooms_by_user

    # J8: merge last_message_at back into the membership lookup. The
    # updates side is aggregated to one row per (user, room): duplicate
    # membership docs (dirty-Mongo data) would otherwise fan the
    # left-join out and multiply lookup rows, where the reference's
    # per-row UPDATE is idempotent.
    out["room_membership_lookup_updated"] = DN.merge_update(
        out["room_membership_lookup"],
        rooms_by_user.groupBy("user_id", "room_id").agg(
            F.max("last_message_at").alias("last_message_at")
        ),
        ["user_id", "room_id"],
        ["last_message_at"],
    )

    # professions dimension + user_professions M2M (J4: misses on
    # either side dropped)
    profession = out["profession"] = profession_task()
    out["user_professions"] = DN.m2m_explode(
        sources["users"],
        "_id",
        "profession",
        user.select(
            F.col("mongo_id").alias("user_mongo_id"), F.col("id").alias("user_id")
        ),
        profession.select(
            F.col("mongo_id").alias("prof_mongo_id"), F.col("id").alias("profession_id")
        ),
        "user_mongo_id",
        "prof_mongo_id",
    ).select(
        "user_id",
        "profession_id",
        # F18 composite lineage key
        S.composite_key("user_mongo_id", "prof_mongo_id").alias("mongo_id"),
    )

    out["channel"] = channel_task()
    out["live"] = live_task()
    out["docs"] = docs_task()

    # J12: docs with specialRole → (docs_id, role_id) relation rows
    out["docs_roles"] = (
        active_docs.withColumn("role_ref", ref_id("specialRole"))
        .filter(F.col("role_ref").isNotNull())
        .join(
            F.broadcast(
                out["docs"].select(
                    F.col("mongo_id").alias("_docs_mongo"), F.col("id").alias(
                        "docs_id"
                    )
                )
            ),
            F.col("_id") == F.col("_docs_mongo"),
            "inner",
        )
        .join(
            F.broadcast(
                out["role"].select(
                    F.col("mongo_id").alias("role_ref"),
                    F.col("id").alias("role_id"),
                )
            ),
            "role_ref",
            "inner",
        )
        .select("docs_id", "role_id", F.col("_id").alias("docs_mongo_id"))
    )
    return out
