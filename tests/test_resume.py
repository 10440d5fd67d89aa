"""M6: lakehouse snapshot checkpointing + resume (SURVEY §5.5, §7).

The north rule requires the crawl to be resumable from snapshot
checkpoints with identical final order/seen state, payloads landed via
MERGE INTO, and the seen set carried in the checkpoint."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.test_expansion_skip import expanding_rounds
from volltextextraktion_selenium_md_spark.config import CrawlConfig
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
    """A store after rounds 0-1. The resume's first round (round 2)
    still expands, so it anti-joins against the restored seen table — a
    round that cannot expand runs no anti-join."""
    CrawlEngine(
        spark, SF, cfg=CrawlConfig(max_rounds=2), checkpoint_dir=ckpt_dir
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
        checkpoint_dir=ckpt_dir,
    ).run()
    assert SnapshotStore(ckpt_dir).latest() == 3  # one snapshot per round

    res = CrawlEngine(
        spark, SF, with_convert=True, checkpoint_dir=ckpt_dir
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
    v1 = store.commit({"t": df}, meta={"round": 0})
    assert v1 == 1 and store.latest() == 1
    # unpublished version (no manifest) is invisible
    os.makedirs(os.path.join(ckpt_dir, "v9"))
    assert store.latest() == 1
    assert store.read(spark, "t").count() == 5
    # a crash inside an in-place commit left an unpublished v2 with
    # files in it; the next commit replaces it
    os.makedirs(os.path.join(ckpt_dir, "v2", "t.parquet"))
    v2 = store.commit({"t": df.limit(2)}, meta={"round": 1})
    assert v2 == 2 and store.read(spark, "t").count() == 2
    # time travel: v1 still has 5 rows
    assert store.read(spark, "t", version=1).count() == 5
    store.expire_snapshots(keep_last=1)
    assert store.versions() == [2]


def test_snapshot_commit_is_exclusive(spark, ckpt_dir):
    """Two committers on one store: B publishes v1, then A, whose view
    of the latest version is stale, commits. A raises instead of mixing
    its files into v1, leaves no staging directory behind, and v1 still
    reads back B's rows."""
    a, b = SnapshotStore(ckpt_dir), SnapshotStore(ckpt_dir)
    a.latest = lambda: None  # A listed the store before B's commit
    b.commit({"t": spark.range(3).withColumnRenamed("id", "k")}, meta={"round": 0})
    with pytest.raises(FileExistsError):
        a.commit({"t": spark.range(7).withColumnRenamed("id", "k")},
                 meta={"round": 0})
    assert sorted(r["k"] for r in b.read(spark, "t").collect()) == [0, 1, 2]
    assert os.listdir(ckpt_dir) == ["v1"]


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


def test_resume_ignores_retired_filter_blobs(spark, ckpt_dir, uninterrupted):
    """A store written while the engine still kept a Bloom filter holds
    ``h1``/``h2`` key columns in its frontier and seen tables, and its
    manifest lists the filter blobs (``seen_shards``, and the older
    ``seen_bloom`` and ``seen_cuckoo``). It resumes to exactly the
    uninterrupted crawl, and the snapshots it commits drop the columns.
    A new store's committed schemas never carry them."""
    store = _checkpoint_2_rounds(spark, ckpt_dir)
    man = store.manifest()
    assert "blobs" not in man
    assert not _hash_cols(man)
    # rewrite the latest snapshot in the earlier format
    vdir = os.path.join(ckpt_dir, f"v{store.latest()}")
    for name in ("frontier", "seen"):
        legacy = (
            store.read(spark, name)
            .withColumn("h1", F.xxhash64("url"))
            .withColumn("h2", F.xxhash64("url", F.lit(0x9E3779B9)))
            .localCheckpoint()
        )
        path = os.path.join(vdir, f"{name}.parquet")
        shutil.rmtree(path)
        legacy.write.parquet(path)
        man["schemas"][name] = spark.read.parquet(path).schema.jsonValue()
    man["blobs"] = ["seen_shards", "seen_bloom", "seen_cuckoo"]
    for name in man["blobs"]:
        with open(os.path.join(vdir, f"{name}.bin"), "wb") as f:
            f.write(b"\x00" * 16)
    with open(os.path.join(vdir, "manifest.json"), "w") as f:
        json.dump(man, f)
    assert _hash_cols(man) == {"frontier", "seen"}

    eng = CrawlEngine(spark, SF, checkpoint_dir=ckpt_dir)
    rounds = expanding_rounds(eng)
    res = eng.run()
    assert (_decisions(res), _seen_urls(res)) == uninterrupted
    # the resumed first round anti-joins against the legacy seen table
    assert rounds[:1] == [man["meta"]["round"] + 1]
    assert not _hash_cols(store.manifest())


def _hash_cols(man):
    """The committed tables whose manifest schema has h1 or h2."""
    return {
        name for name, schema in man["schemas"].items()
        if {f["name"] for f in schema["fields"]} & {"h1", "h2"}
    }


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
