"""Snapshot-versioned table: commit atomicity, time travel, COW merge
file pruning, rollback, expiry, catalog rename."""

import os

import pytest
from pyspark.sql import Row, functions as F

from dxf_postgis_converter_spark.operators.merge_modes import (
    ImportMode, apply_mode,
)
from dxf_postgis_converter_spark.sources.snapshot_store import (
    Catalog, CommitConflict, SnapshotTable,
)


def _ents(spark, doc_id, layer, names):
    return spark.createDataFrame(
        [Row(doc_id=doc_id, layer=layer, name=n, entity_type="LINE",
             payload=f"{doc_id}/{layer}/{n}") for n in names])


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "t"))


def test_append_read_history(table, spark):
    assert not table.exists()
    v0 = table.append(_ents(spark, "docA", "L1", ["a", "b"]))
    v1 = table.append(_ents(spark, "docB", "L1", ["c"]))
    assert (v0, v1) == (0, 1)
    assert table.read().count() == 3
    hist = table.history()
    assert [h["version"] for h in hist] == [0, 1]
    assert [h["n_rows"] for h in hist] == [2, 3]
    assert hist[1]["parent"] == 0
    assert all(h["operation"] == "append" for h in hist)


def test_time_travel_and_as_of(table, spark):
    table.append(_ents(spark, "docA", "L1", ["a"]))
    t_mid = table.history()[-1]["committed_at"]
    table.overwrite(_ents(spark, "docZ", "L9", ["z1", "z2"]))
    # head sees only the overwrite; v0 still plans the original file set
    assert {r["doc_id"] for r in table.read().collect()} == {"docZ"}
    assert {r["doc_id"] for r in table.read(version=0).collect()} == {"docA"}
    assert {r["doc_id"] for r in table.read(as_of=t_mid).collect()} == {"docA"}


def test_merge_matches_set_algebra(table, spark):
    """SnapshotTable.merge == apply_mode on the full table, for every
    import mode (the COW file pruning must be invisible to semantics)."""
    base = _ents(spark, "docA", "L1", ["a", "b"]).unionByName(
        _ents(spark, "docB", "L1", ["b", "c"]))
    src = _ents(spark, "docA", "L1", ["b", "x"]).withColumn(
        "payload", F.concat(F.col("payload"), F.lit("!v2")))

    for mode in ImportMode:
        t = SnapshotTable(spark, table.path + "_" + mode.value)
        t.append(base)
        t.merge(src, mode)
        got = {tuple(r) for r in t.read().select(
            "doc_id", "layer", "name", "payload").collect()}
        want = {tuple(r) for r in apply_mode(base, src, mode).select(
            "doc_id", "layer", "name", "payload").collect()}
        assert got == want, mode


def test_merge_prunes_untouched_files(table, spark):
    """A merge scoped to docA must carry docB's data files by REFERENCE —
    identical path entries in the new manifest, no rewrite."""
    table.append(_ents(spark, "docA", "L1", ["a"]))
    table.append(_ents(spark, "docB", "L1", ["b"]))
    before = {f["path"] for f in table._manifest(1)["files"]}
    doc_b_files = {f["path"] for f in table._manifest(1)["files"]
                   if f["stat_min"] == "docB"}
    assert doc_b_files, "expected per-file docB stats"

    table.merge(_ents(spark, "docA", "L1", ["a2"]), ImportMode.ADD_OBJECTS)
    after = {f["path"] for f in table._manifest(2)["files"]}
    assert doc_b_files <= after                      # carried by reference
    assert (before - doc_b_files).isdisjoint(after)  # docA files rewritten
    assert table.read().count() == 3


def test_commit_conflict_and_append_retry(table, spark):
    table.append(_ents(spark, "docA", "L1", ["a"]))
    # simulate a concurrent winner for v1: overwrite planned against v0
    # must lose once v1 exists
    df = _ents(spark, "docC", "L1", ["c"])
    head = table.current_version()
    files = table._manifest(head)["files"] + table._stage_files(df)
    schema_json = table._schema_json(df)
    table._commit(files, "append", schema_json, head)  # the "other" writer
    with pytest.raises(CommitConflict):
        table._commit(files, "overwrite", schema_json, head)
    # append() retries transparently against the new head
    v = table.append(_ents(spark, "docD", "L1", ["d"]))
    assert v == 2 and table.read().count() == 3


def test_rollback_and_expire(table, spark):
    table.append(_ents(spark, "docA", "L1", ["a"]))
    table.overwrite(_ents(spark, "docB", "L1", ["b"]))
    v = table.rollback(0)
    assert v == 2
    assert {r["doc_id"] for r in table.read().collect()} == {"docA"}
    # expiry keeps the head (= rollback snapshot) readable and deletes
    # the overwrite's now-unreferenced file
    n_parquet = lambda: sum(
        f.endswith(".parquet") for _, _, fs in os.walk(table.path) for f in fs)
    before = n_parquet()
    # a crashed writer's orphan tmp manifest is swept too
    orphan = os.path.join(table._snap_dir, ".tmp-deadbeef.json")
    open(orphan, "w").write("{}")
    rep = table.expire_snapshots(keep_last=1, older_than_s=0.0)
    assert rep["expired_snapshots"] == 2
    assert n_parquet() < before
    assert not os.path.exists(orphan)
    assert {r["doc_id"] for r in table.read().collect()} == {"docA"}


def test_expire_spares_fresh_unreferenced_files(table, spark):
    """ADVICE r5 (medium): a concurrent writer between _stage_files and
    _commit owns parquet files no manifest references YET. expire must
    apply the remove_orphan_files age guard to those (while files
    referenced only by the dropped manifests delete immediately) — else
    the racer's os.link commit succeeds pointing at vanished files."""
    table.append(_ents(spark, "docA", "L1", ["a"]))
    table.overwrite(_ents(spark, "docB", "L1", ["b"]))
    # simulate the racer: staged-but-uncommitted fresh parquet
    staged_dir = os.path.join(table._data_dir, "racer")
    os.makedirs(staged_dir)
    staged = os.path.join(staged_dir, "part-0.parquet")
    open(staged, "wb").write(b"x")
    rep = table.expire_snapshots(keep_last=1)  # default 1h age guard
    # v0's file (referenced only by the dropped manifest) is gone...
    assert rep["expired_snapshots"] == 1 and rep["removed_files"] >= 1
    # ...but the fresh unreferenced staging file survived
    assert os.path.exists(staged)
    # aged out, it goes the way of any orphan
    os.utime(staged, (1, 1))
    table.expire_snapshots(keep_last=1, older_than_s=0.0)
    assert not os.path.exists(staged)


def test_schema_mismatch_rejected(table, spark):
    table.append(_ents(spark, "docA", "L1", ["a"]))
    bad = spark.createDataFrame([Row(doc_id="x", other=1)])
    with pytest.raises(ValueError, match="schema mismatch"):
        table.append(bad)


def test_catalog_rename_is_pointer_only(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create("layer_old")
    t.append(_ents(spark, "docA", "L1", ["a"]))
    data_path = t.path
    cat.rename("layer_old", "layer_new")
    assert cat.load("layer_new").path == data_path  # data never moved
    assert cat.load("layer_new").read().count() == 1
    with pytest.raises(KeyError):
        cat.load("layer_old")
    with pytest.raises(ValueError):
        cat.rename("layer_new", "layer_new")


def test_concurrent_appenders_all_land(spark, tmp_path):
    """8 threads race appends at the commit layer: os.link claims give
    every version exactly one winner, append() retries losers against
    the new head, and the final table contains every writer's rows
    exactly once — no torn manifests, no lost updates."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "race"))
    t.append(_ents(spark, "doc_init", "L0", ["seed"]))
    # stage everything up front (Spark jobs aren't the contention under
    # test; the commit protocol is), then race the claim loop
    staged = []
    for i in range(8):
        df = _ents(spark, f"doc{i:02d}", "L1", ["x"])
        staged.append((t._stage_files(df), t._schema_json(df)))

    errors = []

    def commit_one(files, schema_json):
        try:
            for _ in range(50):  # the append() retry loop, inlined
                head = t.current_version()
                carried = t._manifest(head)["files"]
                try:
                    t._commit(carried + files, "append", schema_json, head)
                    return
                except CommitConflict:
                    continue
            errors.append("retries exhausted")
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=commit_one, args=s) for s in staged]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.current_version() == 8  # 1 seed + 8 appends, one per version
    docs = sorted(r["doc_id"] for r in t.read().collect())
    assert docs == sorted(["doc_init"] + [f"doc{i:02d}" for i in range(8)])
    # every historical snapshot is still readable and monotonic
    sizes = [h["n_rows"] for h in t.history()]
    assert sizes == sorted(sizes) and sizes[-1] == 9


def test_incremental_changes_append_only(table, spark):
    """changes(from, to) returns exactly the rows added by the commits in
    range, tagged with the adding version — Iceberg incremental read."""
    table.append(_ents(spark, "docA", "L1", ["a", "b"]))   # v0
    table.append(_ents(spark, "docB", "L1", ["c"]))        # v1
    table.append(_ents(spark, "docC", "L2", ["d", "e"]))   # v2
    got = table.changes(0).select("doc_id", "name", "_version").collect()
    assert {(r["doc_id"], r["name"], r["_version"]) for r in got} == {
        ("docB", "c", 1), ("docC", "d", 2), ("docC", "e", 2)}
    # bounded range
    mid = table.changes(0, to_version=1).collect()
    assert {r["doc_id"] for r in mid} == {"docB"}
    # empty range at head
    assert table.changes(2).count() == 0


def test_incremental_changes_refuses_replaces(table, spark):
    table.append(_ents(spark, "docA", "L1", ["a"]))
    table.merge(_ents(spark, "docA", "L1", ["a2"]), ImportMode.ADD_OBJECTS)
    with pytest.raises(ValueError, match="merge"):
        table.changes(0)
    # opting in surfaces the rewritten file's rows
    rows = table.changes(0, include_rewrites=True).collect()
    assert {r["name"] for r in rows} == {"a", "a2"}


def test_compact_files_is_a_semantic_noop(table, spark):
    """Many tiny appended files bin-pack into fewer files; the row set and
    subsequent COW merges are unchanged."""
    for i in range(6):
        table.append(_ents(spark, f"doc{i}", "L1", ["x", "y"]).coalesce(1))
    before = {tuple(r) for r in table.read().collect()}
    n_files_before = len(table._manifest(table.current_version())["files"])
    rep = table.compact_files(target_file_bytes=1 << 20)
    assert rep["compacted"] == n_files_before and rep["produced"] == 1
    m = table._manifest(table.current_version())
    assert m["operation"] == "rewrite"
    assert len(m["files"]) == 1
    assert {tuple(r) for r in table.read().collect()} == before
    # stats survive the rewrite, so COW pruning still works after compaction
    assert m["files"][0]["stat_min"] == "doc0"
    assert m["files"][0]["stat_max"] == "doc5"
    table.merge(_ents(spark, "doc3", "L1", ["z"]), ImportMode.ADD_OBJECTS)
    assert table.read().count() == 13


def test_compact_files_carries_big_files_by_reference(table, spark):
    table.append(_ents(spark, "docA", "L1", [f"n{i}" for i in range(50)])
                 .coalesce(1))
    big = {f["path"] for f in table._manifest(0)["files"]}
    table.append(_ents(spark, "docB", "L1", ["b"]).coalesce(1))
    table.append(_ents(spark, "docC", "L1", ["c"]).coalesce(1))
    small_threshold = max(
        f["bytes"] for f in table._manifest(2)["files"]
        if f["path"] not in big) + 1
    rep = table.compact_files(target_file_bytes=small_threshold)
    # both small files rewritten (bin count follows ceil(total/target))
    assert rep["compacted"] == 2 and 1 <= rep["produced"] <= 2
    after = {f["path"] for f in table._manifest(table.current_version())["files"]}
    assert big <= after  # untouched file carried by reference


def test_remove_orphan_files_keeps_history(table, spark):
    """A crashed writer's staged-but-uncommitted files are swept; every
    snapshot stays readable; fresh files survive the age guard."""
    table.append(_ents(spark, "docA", "L1", ["a"]))
    table.append(_ents(spark, "docB", "L1", ["b"]))
    # crashed writer: staged, never committed
    table._stage_files(_ents(spark, "docZ", "L9", ["zombie"]))
    n_parquet = lambda: sum(
        f.endswith(".parquet") for _, _, fs in os.walk(table.path) for f in fs)
    before = n_parquet()
    # age guard: everything is younger than an hour → nothing removed
    assert table.remove_orphan_files()["removed_files"] == 0
    assert n_parquet() == before
    rep = table.remove_orphan_files(older_than_s=0.0)
    assert rep["removed_files"] >= 1
    assert {r["doc_id"] for r in table.read().collect()} == {"docA", "docB"}
    assert {r["doc_id"] for r in table.read(version=0).collect()} == {"docA"}
    assert len(table.history()) == 2
    # idempotent
    assert table.remove_orphan_files(older_than_s=0.0)["removed_files"] == 0


def test_additive_schema_evolution(table, spark):
    """Iceberg add-column: a wider write evolves the schema in the commit;
    files from before the evolution read as NULL for the new column with
    no rewrite; time travel keeps the old shape; COW merge works through
    the evolved schema."""
    table.append(_ents(spark, "docA", "L1", ["a"]))
    files_v0 = {f["path"] for f in table._manifest(0)["files"]}
    wider = _ents(spark, "docB", "L1", ["b"]).withColumn("score", F.lit(1.5))
    with pytest.raises(ValueError, match="schema mismatch"):
        table.append(wider)
    table.append(wider, allow_new_columns=True)
    assert files_v0 <= {f["path"] for f in table._manifest(1)["files"]}  # no rewrite
    rows = {(r["doc_id"], r["score"]) for r in table.read().collect()}
    assert rows == {("docA", None), ("docB", 1.5)}
    assert "score" not in table.read(version=0).columns  # time travel
    # the table's canonical schema is now the wider one: narrow writes
    # are rejected again (no silent column drops)
    with pytest.raises(ValueError, match="schema mismatch"):
        table.append(_ents(spark, "docC", "L1", ["c"]))
    table.merge(wider.withColumn("score", F.lit(2.0)),
                ImportMode.OVERWRITE_OBJECTS)
    assert {(r["doc_id"], r["score"]) for r in table.read().collect()} == {
        ("docA", None), ("docB", 2.0)}


def test_clustered_compaction_tightens_pruning(table, spark):
    """cluster_by range-partitions the rewrite so output files carry
    DISJOINT doc_id stats — a later merge scoped to one doc rewrites one
    file, where unsorted compaction would touch them all."""
    docs = [f"doc{i:02d}" for i in range(8)]
    for a, b in zip(docs[0::2], docs[1::2]):
        # interleave: each tiny file spans the whole doc range without sort
        table.append(_ents(spark, a, "L1", ["x"]).unionByName(
            _ents(spark, b, "L1", ["x"])).coalesce(1))
    rep = table.compact_files(target_file_bytes=3000, cluster_by="doc_id")
    assert rep["compacted"] == 4 and rep["produced"] >= 2
    m = table._manifest(table.current_version())
    spans = sorted((f["stat_min"], f["stat_max"]) for f in m["files"])
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo, spans  # disjoint (or touching) ranges
    # merge scoped to the FIRST doc touches exactly one file
    before = {f["path"] for f in m["files"]}
    table.merge(_ents(spark, docs[0], "L1", ["y"]), ImportMode.ADD_OBJECTS)
    after = {f["path"] for f in table._manifest(table.current_version())["files"]}
    assert len(before - after) == 1  # one file rewritten, rest by reference
    assert table.read().count() == 9  # 8 original rows + 1 merged insert


def test_catalog_concurrent_creates_all_land(spark, tmp_path):
    """ADVICE r5: two concurrent creates must BOTH land (the old
    read-modify-write silently lost one — last save wins — leaving that
    table's data directory unreachable)."""
    import threading

    from dxf_postgis_converter_spark.sources.snapshot_store import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    errors = []

    def worker(i):
        try:
            cat.create(f"t{i}")
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert set(cat.tables()) == {f"t{i}" for i in range(6)}
    # duplicate create still rejected; rename contract intact
    with pytest.raises(ValueError, match="exists"):
        cat.create("t0")
    cat.rename("t0", "t9")
    assert "t9" in cat.tables() and "t0" not in cat.tables()


def test_changes_from_expired_base_fails_loudly(table, spark):
    table.append(_ents(spark, "docA", "L1", ["a"]))
    table.append(_ents(spark, "docB", "L1", ["b"]))
    table.append(_ents(spark, "docC", "L1", ["c"]))
    table.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="expired"):
        table.changes(0)
    # a surviving base still works
    assert {r["doc_id"] for r in table.changes(1).collect()} == {"docC"}


def test_append_retry_recomputes_schema_after_concurrent_evolution(
        table, spark):
    """ADVICE r5 closure, pinned as its own regression (VERDICT r6 item
    5b): a writer that PLANNED a narrow append loses its version claim to
    a concurrent additive schema evolution; the retry must re-validate
    the schema against the NEW head (_refresh_schema) so the committed
    manifest records the evolved schema — recording the stale plan-time
    schema would make read() silently hide the new column."""
    table.append(_ents(spark, "docA", "L1", ["a"]))          # v0, narrow
    # our writer plans a narrow append against v0 (files staged, schema
    # computed — exactly what append() does before its commit loop)
    df = _ents(spark, "docB", "L1", ["b"])
    planned_schema = table._schema_json(df)
    planned_head = table.current_version()
    staged = table._stage_files(df)
    # a concurrent writer evolves the table first: v1 adds `score`
    wider = _ents(spark, "docC", "L1", ["c"]).withColumn(
        "score", F.lit(1.5))
    table.append(wider, allow_new_columns=True)
    # plan is now stale: the claim against v0 must lose...
    with pytest.raises(CommitConflict):
        table._commit(
            table._manifest(planned_head)["files"] + staged, "append",
            table._refresh_schema(planned_schema), planned_head)
    # ...and the retry (same steps append() takes) recomputes BOTH the
    # carried files and the schema against the evolved head
    head = table.current_version()
    refreshed = table._refresh_schema(planned_schema)
    assert "score" in {f["name"] for f in refreshed["fields"]}
    v = table._commit(
        table._manifest(head)["files"] + staged, "append", refreshed, head)
    assert {f["name"] for f in table._manifest(v)["schema"]["fields"]} \
        == {"doc_id", "layer", "name", "entity_type", "payload", "score"}
    rows = {(r["doc_id"], r["score"]) for r in table.read().collect()}
    assert rows == {("docA", None), ("docB", None), ("docC", 1.5)}
