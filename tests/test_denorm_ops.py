"""Unit tests for denorm operators: exact upsert semantics (S8),
pair_generation's order_by (J7) and the m2m_explode bridge (J4)."""

from pyspark.sql import functions as F

from mongodb_etl_migration_spark.operators import denorm as DN


def test_upsert_matches_on_conflict_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0, "SEG1"), (2, "b", 20.0, "SEG2"), (3, "c", 30.0, "SEG3")],
        "k int, name string, bal double, seg string",
    )
    updates = spark.createDataFrame(
        [(2, "B2", None), (4, "D4", 44.0)],
        "k int, name string, bal double",
    )
    out = DN.upsert(target, updates, ["k"], ["name", "bal"]).collect()
    by_k = {r.k: r for r in out}
    assert len(out) == 4
    # untouched row passes through
    assert (by_k[1].name, by_k[1].bal, by_k[1].seg) == ("a", 10.0, "SEG1")
    # matched: set_cols overwritten UNCONDITIONALLY (NULL overwrites),
    # non-set columns preserved
    assert by_k[2].name == "B2" and by_k[2].bal is None and by_k[2].seg == "SEG2"
    assert (by_k[3].name, by_k[3].bal) == ("c", 30.0)
    # unmatched update inserted, target-only column NULL
    assert by_k[4].name == "D4" and by_k[4].bal == 44.0 and by_k[4].seg is None


def test_merge_update_keeps_target_on_null_update(spark):
    """merge_update is the coalesce variant: NULL update values keep
    the target's value (contrast with upsert)."""
    target = spark.createDataFrame([(1, 10.0)], "k int, bal double")
    updates = spark.createDataFrame([(1, None)], "k int, bal double")
    out = DN.merge_update(target, updates, ["k"], ["bal"]).collect()
    assert out[0].bal == 10.0


def test_m2m_explode_drops_nulls_empties_and_misses(spark):
    """J4 bridge: one row per (resolved left, resolved right) element.
    A NULL array, an empty array, a NULL element and a miss on either
    id map all emit nothing."""
    src = spark.createDataFrame(
        [
            ("u1", ["p1", "p2", "pX"]),  # pX: miss on the right
            ("u2", None),                # NULL array
            ("u3", []),                  # empty array
            ("u4", ["p1"]),              # u4: miss on the left
            ("u5", ["p2", None]),        # NULL element
        ],
        "_id string, profession array<string>",
    )
    users = spark.createDataFrame(
        [("u1", 1), ("u2", 2), ("u3", 3), ("u5", 5)], "u string, user_id int"
    )
    profs = spark.createDataFrame(
        [("p1", 10), ("p2", 20)], "p string, profession_id int"
    )
    rows = DN.m2m_explode(src, "_id", "profession", users, profs, "u", "p").collect()
    got = {(r.u, r.p, r.user_id, r.profession_id) for r in rows}
    assert len(rows) == 3
    assert got == {("u1", "p1", 1, 10), ("u1", "p2", 1, 20), ("u5", "p2", 5, 20)}


def test_pair_generation_honors_order_by(spark):
    members = spark.createDataFrame(
        [
            ("r1", "zed", 1),   # earliest joined_at → first member
            ("r1", "amy", 3),
            ("r1", "bob", 2),
            ("r2", "solo", 1),  # <2 members → skipped
        ],
        "room string, user string, joined_at int",
    )
    rows = DN.pair_generation(
        members, "room", "user", order_by=[F.col("joined_at")]
    ).collect()
    pairs = {(r.user1, r.user2) for r in rows}
    # first two BY joined_at are zed (1) and bob (2) — not amy/bob
    # (which the default member-value ordering would pick)
    assert pairs == {("zed", "bob"), ("bob", "zed")}
    # default ordering: lexicographic by member value
    rows2 = DN.pair_generation(members, "room", "user").collect()
    pairs2 = {(r.user1, r.user2) for r in rows2}
    assert pairs2 == {("amy", "bob"), ("bob", "amy")}


def test_star_cc_keeps_self_pair_ids(spark):
    """A self-pair (5,5) carries no edges but its id must still label
    itself, as in the union-find reference."""
    from mongodb_etl_migration_spark.operators.dedup import connected_components
    from tests.test_skew_properties import _cc_reference

    pairs = spark.createDataFrame([(1, 2), (5, 5)], "id_a long, id_b long")
    star = {r.id: r.component for r in connected_components(pairs).collect()}
    assert star == _cc_reference([(1, 2), (5, 5)])[0] == {1: 1, 2: 1, 5: 5}


def test_bmp_degenerate_dimensions_fall_back(spark):
    """A BMP header claiming width 0 must be rejected as undecodable
    (NULL metrics), not crash the task."""
    import struct

    from mongodb_etl_migration_spark.operators import multimodal as MM

    bad = bytearray(MM.encode_bmp(__import__("numpy").zeros((2, 2, 3), dtype="uint8")))
    struct.pack_into("<i", bad, 18, 0)  # width := 0
    df = spark.createDataFrame(
        [(1, bytes(bad), ("image", len(bad)))],
        "doc_id long, payload binary, meta struct<media_type:string, byte_size:bigint>",
    )
    r = MM.decode_images(df).head()
    assert r.width is None and r.mean_r is None


def test_observed_metrics_per_entity_timing(spark, tmp_path):
    """Per-entity harvest scopes wall time to that entity's write."""
    import time

    from mongodb_etl_migration_spark.metrics import RunMetrics

    m = RunMetrics()
    t0 = time.perf_counter()
    a = spark.range(10).toDF("x")
    m.observed("a", a).write.mode("overwrite").parquet(str(tmp_path / "a"))
    m.harvest()
    # measured upper bound, not a wall-clock constant: a cold session's
    # first parquet write can take seconds of JIT on its own
    a_elapsed = time.perf_counter() - t0
    time.sleep(1.0)
    b = spark.range(20).toDF("x")
    m.observed("b", b).write.mode("overwrite").parquet(str(tmp_path / "b"))
    m.harvest()
    by = {e.entity: e for e in m.entities}
    assert by["a"].rows == 10 and by["b"].rows == 20
    # entity a's duration must not include the sleep before b's write
    assert by["a"].seconds <= a_elapsed + 0.05


def test_apply_cdc_last_writer_wins_and_replay_converges(spark):
    from mongodb_etl_migration_spark.operators.denorm import apply_cdc

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    changes = spark.createDataFrame(
        [
            (1, 1, "U", 11.0),   # superseded by seq 3
            (1, 3, "U", 12.0),   # wins
            (2, 2, "D", None),   # delete
            (4, 1, "I", 40.0),   # insert of a new key
            (4, 2, "U", 41.0),   # then updated — latest wins
        ],
        "k long, seq long, op string, bal double",
    )
    out = apply_cdc(target, changes, ["k"], "seq", "op", ["bal"])
    got = {r.k: (r.name, r.bal) for r in out.collect()}
    assert got == {
        1: ("a", 12.0),     # last U applied, name preserved
        3: ("c", 30.0),     # untouched
        4: (None, 41.0),    # inserted then updated; target-only col NULL
    }
    # replaying the same compacted log over the result converges
    again = apply_cdc(out, changes, ["k"], "seq", "op", ["bal"])
    assert {r.k: (r.name, r.bal) for r in again.collect()} == got


def test_record_linkage_multipass_blocking(spark):
    """Multi-pass blocking recall: a typo inside pass-1's key region
    is caught by pass-2 and vice versa; pairs found by both passes
    dedup to one row; pairs sharing no block key never get compared
    (the no-all-pairs contract); distance gate excludes far names."""
    import pytest
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.operators.linkage import record_linkage

    a = spark.createDataFrame(
        [(1, "alpha-0001"), (2, "gamma-0002"), (3, "delta-0003")],
        "ida long, na string",
    )
    b = spark.createDataFrame(
        [
            (10, "alpha-0901"),  # typo in middle → suffix pass misses,
                                 # prefix pass catches
            (20, "gamma-0002"),  # exact: both passes find it → 1 row
            (30, "zzzzz-9999"),  # no shared key with anyone
            (40, "delts-0003"),  # typo in prefix region → suffix pass
        ],
        "idb long, nb string",
    )
    out = record_linkage(
        a,
        b,
        "ida",
        "idb",
        "na",
        "nb",
        block_passes=[
            ("substring(na, 1, 5)", "substring(nb, 1, 5)"),
            ("right(na, 4)", "right(nb, 4)"),
        ],
        max_edit=2,
    ).collect()
    pairs = {(r.ida, r.idb): r.edit_distance for r in out}
    assert pairs == {(1, 10): 1, (2, 20): 0, (3, 40): 1}
    # dedup check: the exact match appears once despite two passes
    assert len(out) == 3

    with pytest.raises(ValueError, match="blocking pass"):
        record_linkage(a, b, "ida", "idb", "na", "nb", block_passes=[])


def test_record_linkage_shared_column_names(spark):
    """Both inputs using the SAME id/name column names must work —
    sides are projected to internal qualified columns before the
    join, so nothing resolves ambiguously (round-7 advice). Equal id
    OUTPUT names can't both surface: loud ValueError, not a silent
    AnalysisException downstream."""
    import pytest

    from mongodb_etl_migration_spark.operators.linkage import record_linkage

    a = spark.createDataFrame([(1, "alpha")], "id long, name string")
    b = spark.createDataFrame(
        [(10, "alphb")], "id long, name string"
    ).withColumnRenamed("id", "id_b")
    out = record_linkage(
        a,
        b,
        "id",
        "id_b",
        "name",
        "name",  # same NAME column name on both sides: fine
        block_passes=[("substring(name, 1, 3)", "substring(name, 1, 3)")],
    ).collect()
    assert [(r.id, r.id_b, r.edit_distance) for r in out] == [(1, 10, 1)]

    with pytest.raises(ValueError, match="rename one input id"):
        record_linkage(
            a,
            b.withColumnRenamed("id_b", "id"),
            "id",
            "id",
            "name",
            "name",
            block_passes=[("name", "name")],
        )
