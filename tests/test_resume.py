"""M6: lakehouse snapshot checkpointing + resume (SURVEY §5.5, §7).

The north rule requires the crawl to be resumable from snapshot
checkpoints with identical final order/seen state, payloads landed via
MERGE INTO, and filter state carried in the checkpoint."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.test_expansion_skip import expanding_rounds
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.operators.filters import BloomFilter
from volltextextraktion_selenium_md_spark.operators.seen import SeenSet
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


def _seen_urls(res):
    return sorted(r["url"] for r in res.seen.collect())


@pytest.fixture(scope="module")
def uninterrupted(spark):
    """(decisions, seen urls) of one uninterrupted default crawl."""
    res = CrawlEngine(spark, SF).run()
    return _decisions(res), _seen_urls(res)


def _checkpoint_2_rounds(spark, ckpt_dir):
    """A use_bloom store after rounds 0-1. The resume's first round
    (round 2) still expands, so it needs the seen filter — a round that
    cannot expand runs no anti-join and never reads the filter."""
    CrawlEngine(
        spark, SF, cfg=CrawlConfig(max_rounds=2),
        checkpoint_dir=ckpt_dir, use_bloom=True,
    ).run()
    return SnapshotStore(ckpt_dir)


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


def test_sharded_filter_resume_matches(spark, ckpt_dir, uninterrupted):
    """use_bloom: the seen_shards blob holds one shard per session
    partition, and resuming from it preserves exact decisions and the
    exact seen set."""
    store = _checkpoint_2_rounds(spark, ckpt_dir)
    assert "seen_shards" in store.manifest()["blobs"]
    filt = SeenSet.from_bytes(store.read_blob("seen_shards"))
    assert filt.n_shards == int(spark.conf.get("spark.sql.shuffle.partitions"))
    res = CrawlEngine(spark, SF, checkpoint_dir=ckpt_dir, use_bloom=True).run()
    assert (_decisions(res), _seen_urls(res)) == uninterrupted


def test_resume_bloom_blob_seeds_first_round(spark, ckpt_dir, uninterrupted):
    """The seen_shards blob committed with a snapshot covers every key
    of the committed seen table (a missed key would route a seen URL
    around the anti-join), so a resume LOADS it as the first round's
    filter instead of rebuilding; decisions stay exact."""
    store = _checkpoint_2_rounds(spark, ckpt_dir)
    filt = SeenSet.from_bytes(store.read_blob("seen_shards"))
    seen = store.read(spark, "seen")
    definitely_new, maybe_seen = filt.partitioned_prefilter(seen)
    assert definitely_new.count() == 0
    assert maybe_seen.count() == seen.count() > 0
    first = store.manifest()["meta"]["round"] + 1
    eng = CrawlEngine(spark, SF, checkpoint_dir=ckpt_dir, use_bloom=True)
    rounds = expanding_rounds(eng)
    res = eng.run()
    assert _decisions(res) == uninterrupted[0]
    assert rounds[:1] == [first]  # the resumed first round needs the filter
    assert eng._filter_rebuilds == 0


def test_resume_ignores_retired_filter_blobs(spark, ckpt_dir, uninterrupted):
    """A store whose manifest lists only the retired filter blobs
    (``seen_bloom``: monolithic Bloom, ``seen_cuckoo``: cuckoo ledger)
    resumes under use_bloom to exactly the uninterrupted crawl: the
    blobs are never read, and the first resumed round rebuilds the
    sharded filter from the restored seen table."""
    store = _checkpoint_2_rounds(spark, ckpt_dir)
    vdir = os.path.join(ckpt_dir, f"v{store.latest()}")
    os.remove(os.path.join(vdir, "seen_shards.bin"))
    # junk that parses: an EMPTY shard set — an engine that trusted
    # either blob would route every seen URL around the anti-join
    junk = SeenSet({0: BloomFilter(1 << 20)}, 1).to_bytes()
    for name in ("seen_bloom", "seen_cuckoo"):
        with open(os.path.join(vdir, f"{name}.bin"), "wb") as f:
            f.write(junk)
    man_path = os.path.join(vdir, "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    man["blobs"] = ["seen_bloom", "seen_cuckoo"]
    with open(man_path, "w") as f:
        json.dump(man, f)
    eng = CrawlEngine(spark, SF, checkpoint_dir=ckpt_dir, use_bloom=True)
    res = eng.run()
    assert (_decisions(res), _seen_urls(res)) == uninterrupted
    assert eng._filter_rebuilds >= 1


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
