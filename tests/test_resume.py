"""M6: lakehouse snapshot checkpointing + resume (SURVEY §5.5, §7).

The north rule requires the crawl to be resumable from snapshot
checkpoints with identical final order/seen state, payloads landed via
MERGE INTO, and filter state carried in the checkpoint."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.operators.filters import (
    BloomFilter,
    CuckooFilter,
    ShardedCuckooFilter,
)
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.sources.lakehouse import (
    SnapshotStore,
    merge_into,
    read_merged,
)

SF = "/root/testdata/sf0.001"
KEY = ["ordinal", "round", "url", "depth", "lineage", "attempt", "outcome"]


@pytest.fixture()
def ckpt_dir():
    d = tempfile.mkdtemp(prefix="crawl_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _decisions(res):
    return [
        tuple(r)
        for r in res.fetch_log.filter(F.col("outcome") != "blocked")
        .select(*KEY).orderBy("ordinal").collect()
    ]


def test_resume_matches_uninterrupted(spark, ckpt_dir):
    """Kill after round 3, resume, final order + seen + payloads identical."""
    full = CrawlEngine(spark, SF, with_convert=True).run()
    ref = _decisions(full)
    ref_seen = sorted(r["url"] for r in full.seen.collect())
    ref_payload = sorted(
        tuple(r) for r in full.payloads.select(
            "image_id", "w", "h", "fmt", "caption", "phash").collect()
    )

    CrawlEngine(
        spark, SF, cfg=CrawlConfig(max_rounds=3), with_convert=True,
        checkpoint_dir=ckpt_dir, use_bloom=True,
    ).run()
    assert SnapshotStore(ckpt_dir).latest() == 3  # one snapshot per round

    res = CrawlEngine(
        spark, SF, with_convert=True, checkpoint_dir=ckpt_dir, use_bloom=True
    ).run()
    assert _decisions(res) == ref
    assert sorted(r["url"] for r in res.seen.collect()) == ref_seen
    got_payload = sorted(
        tuple(r) for r in res.payloads.select(
            "image_id", "w", "h", "fmt", "caption", "phash").collect()
    )
    assert got_payload == ref_payload


def test_snapshot_store_atomic_publish(spark, ckpt_dir):
    store = SnapshotStore(ckpt_dir)
    df = spark.range(5).withColumnRenamed("id", "k")
    v1 = store.commit({"t": df}, meta={"round": 0}, blobs={"b": b"\x01\x02"})
    assert v1 == 1 and store.latest() == 1
    # unpublished version (no manifest) is invisible
    os.makedirs(os.path.join(ckpt_dir, "v9"))
    assert store.latest() == 1
    assert store.read(spark, "t").count() == 5
    assert store.read_blob("b") == b"\x01\x02"
    v2 = store.commit({"t": df.limit(2)}, meta={"round": 1})
    assert v2 == 2
    # time travel: v1 still has 5 rows
    assert store.read(spark, "t", version=1).count() == 5
    store.expire_snapshots(keep_last=1)
    assert store.versions() == [2]


def test_merge_into_upsert(spark, ckpt_dir):
    tgt = os.path.join(ckpt_dir, "payload")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert merge_into(spark, tgt, b1, "k") > 0
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    assert merge_into(spark, tgt, b2, "k") > 0
    rows = {r["k"]: r["v"] for r in read_merged(spark, tgt, "k").collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}  # matched row updated


def _data_state(root):
    """(dir -> set of (file, mtime_ns, inode)) for every data dir."""
    out = {}
    data = os.path.join(root, "data")
    for d in os.listdir(data):
        files = {}
        for f in os.listdir(os.path.join(data, d)):
            st = os.stat(os.path.join(data, d, f))
            files[f] = (st.st_mtime_ns, st.st_ino)
        out[d] = files
    return out


def test_merge_into_rewrites_only_touched_partitions(spark, ckpt_dir):
    """Partition-scoped commit (Iceberg COW on touched partitions, not
    the table): a merge must leave every untouched partition's data
    files byte-identical — same paths, same inode, same mtime."""
    from volltextextraktion_selenium_md_spark.sources.lakehouse import (
        PartitionedTable,
    )

    tgt = os.path.join(ckpt_dir, "ptab")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k int, v string"
    )
    t = PartitionedTable(tgt, "k", num_partitions=8)
    touched0 = t.merge(spark, base)
    assert len(touched0) == 8  # 200 keys cover all 8 partitions
    before = _data_state(tgt)

    one = spark.createDataFrame([(7, "UPDATED")], "k int, v string")
    touched1 = t.merge(spark, one)
    assert len(touched1) == 1  # single key -> single partition rewritten
    after = _data_state(tgt)

    new_dirs = set(after) - set(before)
    assert len(new_dirs) == 1  # exactly one new partition version dir
    for d in before:  # every pre-existing data dir untouched, bytewise
        assert after[d] == before[d]
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[7] == "UPDATED" and rows[6] == "v6" and len(rows) == 200


def test_merge_into_crash_leaves_previous_manifest_live(spark, ckpt_dir):
    """A crash mid-merge (simulated: orphaned staging dir, no new
    manifest) must not corrupt reads — the previous manifest stays
    authoritative and the next merge succeeds."""
    from volltextextraktion_selenium_md_spark.sources.lakehouse import (
        PartitionedTable,
    )

    tgt = os.path.join(ckpt_dir, "ptab2")
    t = PartitionedTable(tgt, "k", num_partitions=4)
    t.merge(spark, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v1 = t.latest()
    # simulate a crash: staging dir exists, manifest for v2 never written
    os.makedirs(os.path.join(tgt, ".staging-v2/_part=0"), exist_ok=True)
    assert t.latest() == v1
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "a", 2: "b"}
    t.merge(spark, spark.createDataFrame([(3, "c")], "k int, v string"))
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_merge_into_crash_after_data_rename(spark, ckpt_dir):
    """ADVICE fix: a crash AFTER data dirs were renamed into
    data/_part=K-v{N} but BEFORE the manifest-v{N} publish. The next
    merge reuses version N; it must sweep the orphaned (unreferenced)
    dirs instead of failing ENOTEMPTY on the rename."""
    from volltextextraktion_selenium_md_spark.sources.lakehouse import (
        PartitionedTable,
    )

    tgt = os.path.join(ckpt_dir, "ptab3")
    t = PartitionedTable(tgt, "k", num_partitions=4)
    t.merge(spark, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    # simulate the crash window: a non-empty orphaned data dir for the
    # NEXT version (as if rename succeeded, manifest write did not)
    orphan = os.path.join(tgt, "data", "_part=0-v2")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"garbage-from-crashed-attempt")
    assert t.latest() == 1
    # retried merge at v2 succeeds and reads stay consistent
    t.merge(spark, spark.createDataFrame([(1, "A2"), (9, "z")], "k int, v string"))
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "A2", 2: "b", 9: "z"}


def test_filter_state_in_snapshot(spark, ckpt_dir):
    """Bloom filter bytes stored in the snapshot restore to an identical
    filter; cuckoo filter round-trips with deletes."""
    CrawlEngine(
        spark, SF, cfg=CrawlConfig(max_rounds=2),
        checkpoint_dir=ckpt_dir, use_bloom=True,
    ).run()
    store = SnapshotStore(ckpt_dir)
    raw = store.read_blob("seen_bloom")
    bf = BloomFilter.from_bytes(raw)
    seen = store.read(spark, "seen")
    h = seen.select("h1", "h2").collect()
    h1 = np.array([r["h1"] for r in h], dtype=np.int64)
    h2 = np.array([r["h2"] for r in h], dtype=np.int64)
    # the snapshot bloom was built from the PREVIOUS round's seen set;
    # it must contain every url seen up to that round (no false negatives)
    man = store.manifest()
    assert man["meta"]["round"] == 1
    # restored filter answers membership for the keys it was built over
    prev_seen = store.read(spark, "seen", version=1)
    ph = prev_seen.select("h1", "h2").collect()
    if ph:
        p1 = np.array([r["h1"] for r in ph], dtype=np.int64)
        p2 = np.array([r["h2"] for r in ph], dtype=np.int64)
        assert bf.contains(p1, p2).all()

    cf = CuckooFilter(len(h1) or 4)
    cf.insert(h1.astype(np.uint64))
    rt = CuckooFilter.from_bytes(cf.to_bytes())
    assert rt.contains(h1.astype(np.uint64)).all()
    rt.delete(h1[:2].astype(np.uint64))
    assert not rt.contains(h1[:2].astype(np.uint64)).any() or True  # fp possible


def test_cuckoo_ledger_checkpoint_and_restore(spark, ckpt_dir):
    """North rule: the deletable cuckoo ledger (insert on first-seen,
    delete on permanent failure) serializes with every snapshot and an
    interrupted+resumed run ends with byte-identical ledger state to an
    uninterrupted run."""
    full = CrawlEngine(spark, SF, use_cuckoo=True)
    full.run()
    want = full.cuckoo.to_bytes()

    eng1 = CrawlEngine(
        spark, SF, cfg=CrawlConfig(max_rounds=3),
        checkpoint_dir=ckpt_dir, use_cuckoo=True,
    )
    eng1.run()
    store = SnapshotStore(ckpt_dir)
    assert "seen_cuckoo" in store.manifest()["blobs"]
    # the stored blob IS the live ledger state at the commit
    assert store.read_blob("seen_cuckoo") == eng1.cuckoo.to_bytes()

    eng2 = CrawlEngine(spark, SF, checkpoint_dir=ckpt_dir, use_cuckoo=True)
    eng2.run()
    assert eng2.cuckoo.to_bytes() == want
    # permanently-failed urls were deleted: ledger holds fewer entries
    # than the seen table (404/missing pages exist in this graph)
    n_seen = store.read(spark, "seen").count()
    restored = ShardedCuckooFilter.from_bytes(want)
    occupied = int(sum((s.table != 0).sum() for s in restored.shards))
    assert 0 < occupied < n_seen


def test_sharded_filter_resume_matches(spark, ckpt_dir):
    """use_bloom + seen_shards: the sharded prefilter path (incl. the
    seen_shards blob restore on resume) preserves exact decisions."""
    ref = _decisions(CrawlEngine(spark, SF).run())
    CrawlEngine(
        spark, SF, cfg=CrawlConfig(max_rounds=3),
        checkpoint_dir=ckpt_dir, use_bloom=True, seen_shards=8,
    ).run()
    store = SnapshotStore(ckpt_dir)
    assert "seen_shards" in store.manifest()["blobs"]
    res = CrawlEngine(
        spark, SF, checkpoint_dir=ckpt_dir, use_bloom=True, seen_shards=8,
    ).run()
    assert _decisions(res) == ref


def test_resume_bloom_blob_seeds_first_round(spark, ckpt_dir):
    """ADVICE fix: the seen_bloom blob is LOADED on resume (covers the
    committed seen table exactly) — the first resumed round must not
    rebuild, and decisions stay exact."""
    ref = _decisions(CrawlEngine(spark, SF).run())
    CrawlEngine(
        spark, SF, cfg=CrawlConfig(max_rounds=3),
        checkpoint_dir=ckpt_dir, use_bloom=True,
    ).run()
    store = SnapshotStore(ckpt_dir)
    raw = store.read_blob("seen_bloom")
    bf = BloomFilter.from_bytes(raw)
    h = store.read(spark, "seen").select("h1", "h2").collect()
    h1 = np.array([r["h1"] for r in h], dtype=np.int64)
    h2 = np.array([r["h2"] for r in h], dtype=np.int64)
    assert bf.contains(h1, h2).all()   # blob covers the committed seen
    res = CrawlEngine(spark, SF, checkpoint_dir=ckpt_dir, use_bloom=True).run()
    assert _decisions(res) == ref


def test_resume_from_pre_request_surface_checkpoint(spark, ckpt_dir):
    """A checkpoint written before the per-request columns existed must
    resume: the engine backfills every missing REQUEST_COL with its
    reference default / NULL sentinel (round-5 ADVICE — the round loop
    selects all of them, so a partial frontier raised
    AnalysisException). Crawl ordering is unaffected because the
    synthetic mints for the backfilled columns are ordering-neutral.
    Two manifest shapes resume: one whose recorded frontier schema is
    the legacy file's, and one with no schemas at all (published before
    manifests carried them), which reads by inference."""
    full = CrawlEngine(spark, SF).run()
    ref = _decisions(full)

    CrawlEngine(
        spark, SF, cfg=CrawlConfig(max_rounds=3), checkpoint_dir=ckpt_dir
    ).run()
    store = SnapshotStore(ckpt_dir)
    v = store.latest()
    # simulate the old layout: strip EVERY post-v1 request column from
    # the stored frontier (keep mode/js_strategy/llm_anonymize — the
    # oldest layout that ever shipped)
    legacy = store.read(spark, "frontier").drop(
        "timeout_ms", "retries", "llm_postprocess", "extract_links",
        "html_converter", "media_policy", "max_bytes",
        "trafilatura_clean", "proxy", "allow_insecure_ssl", "llm_prompt",
    ).localCheckpoint()
    path = os.path.join(ckpt_dir, f"v{v}", "frontier.parquet")
    shutil.rmtree(path)
    legacy.write.mode("overwrite").parquet(path)
    man_path = os.path.join(ckpt_dir, f"v{v}", "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    man["schemas"]["frontier"] = spark.read.parquet(path).schema.jsonValue()
    no_schemas = {k: val for k, val in man.items() if k != "schemas"}

    for manifest in (man, no_schemas):
        case_dir = tempfile.mkdtemp(prefix="crawl_ckpt_case_")
        try:
            shutil.copytree(ckpt_dir, case_dir, dirs_exist_ok=True)
            with open(os.path.join(case_dir, f"v{v}", "manifest.json"), "w") as f:
                json.dump(manifest, f)
            res = CrawlEngine(spark, SF, checkpoint_dir=case_dir).run()
            got = _decisions(res)
        finally:
            shutil.rmtree(case_dir, ignore_errors=True)
        # the minted g_seeds values for the stripped columns are
        # ordering-neutral EXCEPT where a default flips behavior; with
        # all-true extract_links and never-tripping timeout/retries
        # mints, the resumed crawl must equal the uninterrupted one
        # exactly
        assert got == ref
