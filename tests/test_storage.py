"""Storage-layer contract tests (store/storage.py).

The publish/recover protocol is what makes every directory swap in the
engine crash-safe WITHOUT relying on POSIX-only atomic rename — the same
two contract clauses an object-store backend must satisfy (see the
module docstring's crash matrix, which these tests walk line by line:
once for LocalStorage's rename mapping, once for ObjectStoreStorage's
versioned-prefix + pointer-flip mapping over a put/get/list/delete-only
client).
"""

import os

import pytest

from sneldb_spark.store.storage import (
    DirObjectClient,
    LocalStorage,
    ObjectStoreStorage,
)


def _mkdir_with(path, fname="f.txt", content="x"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, fname), "w") as f:
        f.write(content)


def _read(path, fname="f.txt"):
    with open(os.path.join(path, fname)) as f:
        return f.read()


@pytest.fixture()
def st():
    return LocalStorage()


def test_publish_replaces_live_copy(tmp_path, st):
    dst = str(tmp_path / "data")
    _mkdir_with(dst, content="old")
    _mkdir_with(st.stage_path(dst), content="new")
    st.publish_dir(dst)
    assert _read(dst) == "new"
    assert not os.path.exists(st.stage_path(dst))
    assert not os.path.exists(dst + ".old")


def test_publish_first_time_no_previous_copy(tmp_path, st):
    dst = str(tmp_path / "data")
    _mkdir_with(st.stage_path(dst), content="new")
    st.publish_dir(dst)
    assert _read(dst) == "new"


def test_publish_without_staged_copy_raises(tmp_path, st):
    with pytest.raises(FileNotFoundError):
        st.publish_dir(str(tmp_path / "data"))


def test_publish_clears_stale_old_leftover(tmp_path, st):
    dst = str(tmp_path / "data")
    _mkdir_with(dst, content="live")
    _mkdir_with(dst + ".old", content="stale-crash-leftover")
    _mkdir_with(st.stage_path(dst), content="new")
    st.publish_dir(dst)
    assert _read(dst) == "new"
    assert not os.path.exists(dst + ".old")


# -- recover_dir crash matrix -------------------------------------------


def test_recover_clean_dir_is_noop(tmp_path, st):
    dst = str(tmp_path / "data")
    _mkdir_with(dst, content="live")
    st.recover_dir(dst)
    assert _read(dst) == "live"


def test_recover_gcs_strays_when_dst_present(tmp_path, st):
    # crash after step 2 (staged copy live) but before old-GC, or a
    # writer crash mid-staging with the live copy untouched
    dst = str(tmp_path / "data")
    _mkdir_with(dst, content="live")
    _mkdir_with(dst + ".old", content="old")
    _mkdir_with(st.stage_path(dst), content="partial")
    st.recover_dir(dst)
    assert _read(dst) == "live"
    assert not os.path.exists(dst + ".old")
    assert not os.path.exists(st.stage_path(dst))


def test_recover_restores_old_when_dst_missing(tmp_path, st):
    # crash between step 1 (dst -> .old) and step 2 (staging -> dst):
    # the previous live copy comes back — it is the copy the manifest
    # hwm describes; the staged one is discarded and re-derived
    dst = str(tmp_path / "data")
    _mkdir_with(dst + ".old", content="previous")
    _mkdir_with(st.stage_path(dst), content="staged")
    st.recover_dir(dst)
    assert _read(dst) == "previous"
    assert not os.path.exists(st.stage_path(dst))


def test_recover_promotes_staging_on_first_publish_crash(tmp_path, st):
    # there never was a live copy (first publish): staging is complete
    # by protocol precondition, promote it
    dst = str(tmp_path / "data")
    _mkdir_with(st.stage_path(dst), content="staged")
    st.recover_dir(dst)
    assert _read(dst) == "staged"


def test_recover_is_idempotent(tmp_path, st):
    dst = str(tmp_path / "data")
    _mkdir_with(dst + ".old", content="previous")
    st.recover_dir(dst)
    st.recover_dir(dst)
    assert _read(dst) == "previous"


def test_never_zero_copies_during_publish(tmp_path, st, monkeypatch):
    """Clause 1 of the contract: at every rename boundary inside
    publish_dir, at least one complete copy (dst, .old, or .staging)
    exists on disk."""
    dst = str(tmp_path / "data")
    _mkdir_with(dst, content="old")
    _mkdir_with(st.stage_path(dst), content="new")

    real_rename = LocalStorage.rename
    copies_seen = []

    def spying_rename(self, src, d):
        copies_seen.append(_count_copies(dst))
        real_rename(self, src, d)
        copies_seen.append(_count_copies(dst))

    def _count_copies(base):
        return sum(
            os.path.exists(p)
            for p in (base, base + ".old", base + ".staging")
        )

    monkeypatch.setattr(LocalStorage, "rename", spying_rename)
    st.publish_dir(dst)
    assert copies_seen and min(copies_seen) >= 1


# -- object-store backend: same matrix over put/get/list/delete ----------


@pytest.fixture()
def ost(tmp_path):
    return ObjectStoreStorage(DirObjectClient(str(tmp_path / "bucket")))


def _stage_obj(ost, dst, content, fname="f.txt"):
    """Write one staged copy through the protocol (stage_path + a data
    key put), returning the staged prefix — the backend-agnostic
    equivalent of _mkdir_with on dst.staging."""
    staging = ost.stage_path(dst)
    ost.client.put(os.path.join(staging, fname), content.encode())
    return staging


def _read_live(ost, dst, fname="f.txt"):
    return ost.client.get(os.path.join(ost.resolve(dst), fname)).decode()


def test_obj_publish_replaces_live_copy(ost, tmp_path):
    dst = str(tmp_path / "bucket" / "data")
    s1 = _stage_obj(ost, dst, "old")
    ost.publish_dir(dst)
    assert ost.resolve(dst) == s1 and _read_live(ost, dst) == "old"
    s2 = _stage_obj(ost, dst, "new")
    assert s2 != s1  # versions burn, a prefix is never reused
    ost.publish_dir(dst)
    assert ost.resolve(dst) == s2 and _read_live(ost, dst) == "new"
    # previous version GC'd after the flip
    assert not ost.client.list(s1 + "/")


def test_obj_publish_without_staged_copy_raises(ost, tmp_path):
    dst = str(tmp_path / "bucket" / "data")
    with pytest.raises(FileNotFoundError):
        ost.publish_dir(dst)
    # publishing again with nothing NEWER staged also raises
    _stage_obj(ost, dst, "v1")
    ost.publish_dir(dst)
    with pytest.raises(FileNotFoundError):
        ost.publish_dir(dst)


def test_obj_first_publish_gcs_raw_copy(ost, tmp_path):
    # a dir populated by direct writes (a state dir at REMEMBER time) is
    # the live copy until its first publish flips it to a version prefix
    dst = str(tmp_path / "bucket" / "state")
    ost.client.put(os.path.join(dst, "f.txt"), b"raw")
    assert ost.resolve(dst) == dst and _read_live(ost, dst) == "raw"
    _stage_obj(ost, dst, "published")
    ost.publish_dir(dst)
    assert _read_live(ost, dst) == "published"
    assert not ost.client.list(dst + "/")


def test_obj_recover_clean_is_noop(ost, tmp_path):
    dst = str(tmp_path / "bucket" / "data")
    _stage_obj(ost, dst, "live")
    ost.publish_dir(dst)
    ost.recover_dir(dst)
    assert _read_live(ost, dst) == "live"


def test_obj_recover_defers_stray_staging_gc_to_next_publish(ost, tmp_path):
    # crash mid-staging with the live copy untouched: recover must NOT
    # touch the staging (a version above the pointer is
    # indistinguishable from a concurrent compaction's in-progress
    # rewrite — deleting it mid-write published truncated copies, r11
    # soak regression); the next publish reclaims it after its flip
    dst = str(tmp_path / "bucket" / "data")
    _stage_obj(ost, dst, "live")
    ost.publish_dir(dst)
    stray = _stage_obj(ost, dst, "partial")
    ost.recover_dir(dst)
    assert _read_live(ost, dst) == "live"
    assert ost.client.list(stray + "/")  # spared: maybe in-progress
    fresh = _stage_obj(ost, dst, "next")
    ost.publish_dir(dst)
    assert _read_live(ost, dst) == "next"
    assert not ost.client.list(stray + "/")  # reclaimed post-flip


def test_obj_recover_keeps_raw_and_spares_scratch(ost, tmp_path):
    # first publish crashed after staging, with a raw live copy present:
    # raw stays live; the staged scratch is SPARED (it may be a
    # concurrent FIRST compaction staging .v1 — same r11 race as above)
    # and reclaimed by the eventual first publish
    dst = str(tmp_path / "bucket" / "state")
    ost.client.put(os.path.join(dst, "f.txt"), b"raw")
    scratch = _stage_obj(ost, dst, "scratch")
    ost.recover_dir(dst)
    assert ost.resolve(dst) == dst and _read_live(ost, dst) == "raw"
    assert ost.client.list(scratch + "/")  # spared: maybe in-progress


def test_obj_recover_promotes_staging_on_first_publish_crash(ost, tmp_path):
    # never a live copy: staging complete by protocol precondition
    dst = str(tmp_path / "bucket" / "data")
    _stage_obj(ost, dst, "staged")
    ost.recover_dir(dst)
    assert _read_live(ost, dst) == "staged"


def test_obj_recover_is_idempotent(ost, tmp_path):
    dst = str(tmp_path / "bucket" / "data")
    _stage_obj(ost, dst, "staged")
    ost.recover_dir(dst)
    ost.recover_dir(dst)
    assert _read_live(ost, dst) == "staged"


def test_obj_never_zero_copies_and_data_never_moves(ost, tmp_path):
    """Clause 1 on the object backend: at every client operation inside
    publish_dir, the pointer (or pre-pointer raw prefix) names a prefix
    whose data is fully present — and data objects NEVER move (only the
    pointer changes; no rename exists)."""
    dst = str(tmp_path / "bucket" / "data")
    _stage_obj(ost, dst, "old")
    ost.publish_dir(dst)
    staged = _stage_obj(ost, dst, "new")

    client = ost.client
    real_put, real_delete = client.put, client.delete
    ok = []

    def check():
        live = ost.resolve(dst)
        ok.append(bool(client.list(live + "/")))

    def spy_put(key, data):
        check(); real_put(key, data); check()

    def spy_delete(key):
        check(); real_delete(key); check()

    client.put, client.delete = spy_put, spy_delete
    try:
        ost.publish_dir(dst)
    finally:
        client.put, client.delete = real_put, real_delete
    assert ok and all(ok)
    # the staged parquet/data object is served from WHERE IT WAS WRITTEN
    assert ost.resolve(dst) == staged
    assert _read_live(ost, dst) == "new"


def test_obj_rename_is_refused(ost, tmp_path):
    with pytest.raises(NotImplementedError):
        ost.rename(str(tmp_path / "a"), str(tmp_path / "b"))


def test_obj_remove_tree_sweeps_versions_and_pointer(ost, tmp_path):
    dst = str(tmp_path / "bucket" / "data")
    _stage_obj(ost, dst, "v1")
    ost.publish_dir(dst)
    _stage_obj(ost, dst, "v2-scratch")
    ost.client.put(os.path.join(dst, "stray.txt"), b"raw")
    ost.remove_tree(dst)
    assert not ost.exists(dst)
    assert not ost.client.list(dst)


# -- engine lifecycle on the object-store backend ------------------------


@pytest.fixture()
def obj_engine(spark, tmp_path):
    """SnelDB with the materializer's directory swaps running on the
    pointer-flip object backend (the event segment store itself stays a
    plain lake prefix — append-only, no swaps needed)."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    root = str(tmp_path / "db")
    st = ObjectStoreStorage(DirObjectClient(root))
    db = SnelDB(spark, root, clock=tick, multi_link=True, storage=st)
    db._obj_storage = st
    return db


def _feed(db, et, n, start=0, fields=('{"n": "int"}')):
    for i in range(start, start + n):
        db.execute(f'STORE {et} FOR c{i} PAYLOAD {{"n": {i}}}')
    db.execute("FLUSH")


def test_obj_engine_segments_refresh_and_compact(obj_engine):
    """Plain incremental materialization end-to-end on the object
    backend: base + delta segments accumulate under the live prefix,
    compact() republishes via pointer flip, refreshes keep working."""
    db = obj_engine
    db.execute('DEFINE ev FIELDS {"n": "int"}')
    _feed(db, "ev", 3)
    db.execute("REMEMBER QUERY ev WHERE n >= 0 AS m")
    _feed(db, "ev", 2, start=10)
    assert db.execute("SHOW m").df.count() == 5
    db.materializer.compact("m")
    data = os.path.join(db.materializer._dir("m"), "data")
    assert db._obj_storage.resolve(data) != data  # pointered after compact
    _feed(db, "ev", 2, start=20)
    assert db.execute("SHOW m").df.count() == 7
    # a crashed refresh's staged scratch is swept by the next SHOW
    db._obj_storage.client.put(
        os.path.join(db._obj_storage.stage_path(data), "junk.txt"), b"x"
    )
    assert db.execute("SHOW m").df.count() == 7


def test_obj_engine_agg_state_merge_refresh(obj_engine):
    db = obj_engine
    db.execute('DEFINE order FIELDS {"n": "int"}')
    _feed(db, "order", 4)
    db.execute("REMEMBER QUERY order COUNT AS agg")
    _feed(db, "order", 3, start=10)
    rows = db.execute("SHOW agg").df.collect()
    assert rows[0]["count"] == 7
    _feed(db, "order", 2, start=20)
    rows = db.execute("SHOW agg").df.collect()
    assert rows[0]["count"] == 9
    # the state dir is pointer-managed after its first merge-publish,
    # which the SHOW's background fold makes
    assert db.materializer.quiesce("agg") == []
    state = db.materializer._state_path("agg")
    assert db._obj_storage.resolve(state) != state


def test_obj_engine_sequence_refresh(obj_engine):
    db = obj_engine
    db.execute('DEFINE a FIELDS {"u": "string"}')
    db.execute('DEFINE b FIELDS {"u": "string"}')
    db.execute('STORE a FOR c1 PAYLOAD {"u": "u1"}')
    db.execute('STORE b FOR c1 PAYLOAD {"u": "u1"}')
    db.execute("FLUSH")
    db.execute("REMEMBER QUERY a FOLLOWED BY b LINKED BY u AS sq")
    db.execute('STORE a FOR c2 PAYLOAD {"u": "u2"}')
    db.execute('STORE b FOR c2 PAYLOAD {"u": "u2"}')
    db.execute("FLUSH")
    assert db.execute("SHOW sq").df.count() == 2
    db.execute('STORE a FOR c3 PAYLOAD {"u": "u3"}')
    db.execute('STORE b FOR c3 PAYLOAD {"u": "u3"}')
    db.execute("FLUSH")
    assert db.execute("SHOW sq").df.count() == 3


def test_obj_engine_chain_refresh(obj_engine):
    db = obj_engine
    for et in ("s1", "s2", "s3"):
        db.execute(f'DEFINE {et} FIELDS {{"u": "string"}}')

    def funnel(u):
        for et in ("s1", "s2", "s3"):
            db.execute(f'STORE {et} FOR c-{u} PAYLOAD {{"u": "{u}"}}')
        db.execute("FLUSH")

    funnel("u1")
    db.execute(
        "REMEMBER QUERY s1 FOLLOWED BY s2 FOLLOWED BY s3 LINKED BY u AS ch"
    )
    funnel("u2")
    assert db.execute("SHOW ch").df.count() == 2
    funnel("u3")
    assert db.execute("SHOW ch").df.count() == 3


def test_obj_engine_compare_refresh(obj_engine):
    db = obj_engine
    db.execute('DEFINE buy FIELDS {"n": "int"}')
    db.execute('DEFINE click FIELDS {"n": "int"}')
    _feed(db, "buy", 2)
    _feed(db, "click", 3)
    db.execute("REMEMBER PLOT COUNT OF buy VS COUNT OF click AS board")
    _feed(db, "buy", 2, start=10)
    rows = db.execute("SHOW board").df.collect()
    # merged sides carry the refreshed counts (4 buys, 3 clicks)
    vals = {v for r in rows for v in r.asDict().values()}
    assert 4 in vals and 3 in vals


def test_obj_engine_event_store_compaction_pointer_flip(obj_engine):
    """The EVENT store's own compaction on the object backend: multiple
    flushes accumulate small files, compact() publishes the rewritten
    layout via pointer flip, and reads/appends stay transparent through
    resolve() — queries return identical rows before and after, and a
    post-compaction flush appends into the live (pointered) prefix."""
    db = obj_engine
    st = db._obj_storage
    db.execute('DEFINE ev FIELDS {"n": "int"}')
    for batch in range(3):
        _feed(db, "ev", 2, start=batch * 10)
    before = {r["n"] for r in db.query("QUERY ev").select("n").collect()}
    assert len(before) == 6
    raw = db.store._raw_path("ev")
    assert st.resolve(raw) == raw  # pre-compaction: raw prefix is live
    db.store.compact("ev")
    live = st.resolve(raw)
    assert live != raw  # pointer flipped to a version prefix
    after = {r["n"] for r in db.query("QUERY ev").select("n").collect()}
    assert after == before
    # appends after compaction land in the live prefix and are readable
    _feed(db, "ev", 1, start=100)
    assert db.query("QUERY ev").count() == 7
    assert db.store.source_hwm("ev") is not None  # footer sweep resolves
    # second compaction cycles the version again, still equal rows
    db.store.compact("ev")
    assert db.query("QUERY ev").count() == 7
    assert st.resolve(raw) != live


def test_obj_engine_periodic_compaction_sees_pointered_types(spark, tmp_path):
    """Regression (code-review r7): after the first object-backend
    compaction GCs a type's raw prefix, the periodic sweep must still
    enumerate the type from its dotted protocol siblings — otherwise
    small files accumulate forever on exactly the types that compacted
    once."""
    from sneldb_spark.engine import SnelDB

    clock = {"now": 1_700_000_000}

    def tick():
        clock["now"] += 1
        return clock["now"]

    root = str(tmp_path / "db")
    st = ObjectStoreStorage(DirObjectClient(root))
    db = SnelDB(spark, root, clock=tick, storage=st,
                compaction_interval=5, auto_compact_files=3)
    db.execute('DEFINE ev FIELDS {"n": "int"}')
    _feed(db, "ev", 2)
    db.store.compact("ev")  # raw prefix GC'd; only .ptr/.v1 remain
    raw = db.store._raw_path("ev")
    v1 = st.resolve(raw)
    assert v1 != raw
    for b in range(4):  # four more small flushes into the live prefix
        _feed(db, "ev", 1, start=10 + b)
    clock["now"] += 10  # past the interval
    db.store.maybe_periodic_compact()
    assert db.store.quiesce_compaction() == []  # sweep enqueues; settle
    assert st.resolve(raw) != v1  # the sweep compacted the pointered type
    assert db.query("QUERY ev").count() == 6


def test_shadow_payload_naming_both_names_rejected(spark, tmp_path):
    """Regression (code-review r7): under allow_core_shadow, a payload
    that sets BOTH the shadowed name and its physical column must be
    rejected, not silently collapsed to one value."""
    from sneldb_spark.engine import SnelDB

    db = SnelDB(spark, str(tmp_path / "db"), allow_core_shadow=True)
    db.execute('DEFINE ev FIELDS {"timestamp": "int", "u": "string"}')
    r = db.try_execute(
        'STORE ev FOR c1 PAYLOAD {"timestamp": 5, "payload_timestamp": 7, "u": "a"}'
    )
    assert not r.ok and "both" in r.message
    # each alone is fine
    assert db.try_execute(
        'STORE ev FOR c1 PAYLOAD {"timestamp": 5, "u": "a"}'
    ).ok
    assert db.try_execute(
        'STORE ev FOR c2 PAYLOAD {"payload_timestamp": 7, "u": "b"}'
    ).ok


def test_obj_engine_forget_sweeps_everything(obj_engine):
    db = obj_engine
    db.execute('DEFINE x FIELDS {"n": "int"}')
    _feed(db, "x", 2)
    db.execute("REMEMBER QUERY x COUNT AS gone")
    _feed(db, "x", 1, start=5)
    db.execute("SHOW gone")
    db.execute("FORGET gone")
    mat = db.materializer._dir("gone")
    assert not db._obj_storage.client.list(mat)


# -- engine integration: crashed swap is repaired by SHOW ----------------


def test_show_repairs_crashed_swap(spark, tmp_path):
    # The moved-aside `.old` crash window is a LOCALSTORAGE publish
    # shape (the grace/object protocol flips a pointer and has no such
    # window), so this test pins the rename backend explicitly.
    from sneldb_spark.engine import SnelDB
    from sneldb_spark.store.storage import LOCAL

    engine = SnelDB(spark, str(tmp_path / "db"), storage=LOCAL)
    engine.execute('DEFINE order FIELDS {"amount": "int"}')
    for i in range(4):
        engine.execute(f'STORE order FOR ctx{i} PAYLOAD {{"amount": {i}}}')
    engine.execute("FLUSH")
    engine.execute("REMEMBER QUERY order WHERE amount >= 0 AS mat")
    engine.execute(f'STORE order FOR ctx9 PAYLOAD {{"amount": 9}}')
    engine.execute("FLUSH")
    assert engine.execute("SHOW mat").df.count() == 5
    engine.close()  # settle the background fold before faking the crash

    # simulate a crash mid-publish: live copy moved aside, staged copy
    # not yet promoted (the exact window ADVICE r4 flagged for compact())
    data = os.path.join(engine.materializer._dir("mat"), "data")
    os.replace(data, data + ".old")
    out = engine.execute("SHOW mat")
    assert out.df.count() == 5


def test_compact_then_show_roundtrip(engine):
    engine.execute('DEFINE ev FIELDS {"n": "int"}')
    for i in range(3):
        engine.execute(f'STORE ev FOR c{i} PAYLOAD {{"n": {i}}}')
    engine.execute("FLUSH")
    engine.execute("REMEMBER QUERY ev WHERE n >= 0 AS m")
    engine.execute('STORE ev FOR c9 PAYLOAD {"n": 9}')
    engine.execute("FLUSH")
    engine.execute("SHOW m")  # creates a delta segment
    engine.materializer.compact("m")
    assert engine.execute("SHOW m").df.count() == 4


def test_obj_snapshot_export_import_roundtrip(obj_engine, spark, tmp_path):
    """Snapshots against an object-backed store: export reads through
    the backend's live prefix (pointer flips included), import appends
    through the backend — the snapshot directory itself is a plain
    POSIX export artifact either way."""
    from sneldb_spark.store.snapshot import export_snapshot, import_snapshot

    db = obj_engine
    db.execute('DEFINE snapev FIELDS {"n": "int"}')
    _feed(db, "snapev", 4)
    snap = str(tmp_path / "snap")
    export_snapshot(db.store, snap)

    from sneldb_spark.engine import SnelDB
    from sneldb_spark.store.storage import DirObjectClient, ObjectStoreStorage

    root2 = str(tmp_path / "db2")
    db2 = SnelDB(spark, root2, storage=ObjectStoreStorage(DirObjectClient(root2)))
    import_snapshot(db2.store, snap)
    assert db2.store.read("snapev").count() == 4
    assert sorted(r["n"] for r in db2.store.read("snapev").collect()) == [0, 1, 2, 3]
