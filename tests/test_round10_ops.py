"""Round-10 additions: compact_files crash recovery, the
partitioned-ingest explicit-schema guard, and q133 image pHash near-dup
plumbing."""

from __future__ import annotations

import pytest


def _make_small_files(spark, path: str, n_files: int = 6, rows: int = 120):
    from pyspark.sql import functions as F

    (
        spark.range(rows)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("grp"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(path)
    )


class TestCompactFilesCrashRecovery:
    def test_crash_between_moves_recovers(self, spark, tmp_path, monkeypatch):
        """Kill the swap after move(base -> .old-token): base is gone.
        A re-run must restore every row and leave no residue dirs."""
        from hadoopwebgraph_spark.functions import maintenance
        from hadoopwebgraph_spark.bvgraph.storage import move_dir as real_move

        path = str(tmp_path / "tbl")
        _make_small_files(spark, path)
        before = {r.payload for r in spark.read.parquet(path).collect()}

        calls = {"n": 0}

        def crashing_move(fs, src, dst):
            calls["n"] += 1
            real_move(fs, src, dst)
            if calls["n"] == 1:  # crash right after base -> .old-token
                raise RuntimeError("injected crash between moves")

        monkeypatch.setattr(maintenance, "move_dir", crashing_move)
        with pytest.raises(RuntimeError, match="injected crash"):
            maintenance.compact_files(spark, path, target_bytes=1 << 30)
        # crashed state: live dir missing, data stranded in .old-<token>
        assert not (tmp_path / "tbl").exists()
        residue = sorted(p.name for p in tmp_path.iterdir())
        assert any(".old-" in n for n in residue)

        monkeypatch.setattr(maintenance, "move_dir", real_move)
        stats = maintenance.compact_files(spark, path, target_bytes=1 << 30)
        after = {r.payload for r in spark.read.parquet(path).collect()}
        assert after == before
        assert stats["files_after"] == 1
        assert sorted(p.name for p in tmp_path.iterdir()) == ["tbl"]

    def test_crash_before_old_cleanup_sweeps(self, spark, tmp_path):
        """Crash after the install but before delete(.old-token): the
        superseded old copy must be swept on the next run, not restored
        over the newer data."""
        from hadoopwebgraph_spark.functions import maintenance

        path = str(tmp_path / "tbl")
        _make_small_files(spark, path)
        before = {r.payload for r in spark.read.parquet(path).collect()}
        # fabricate the post-install crash state: a stale .old copy and
        # an orphaned staging dir alongside the live directory
        _make_small_files(spark, str(tmp_path / "tbl.old-deadbeef"), rows=10)
        _make_small_files(spark, str(tmp_path / "tbl.compact-cafe01"), rows=10)

        stats = maintenance.compact_files(spark, path, target_bytes=1 << 30)
        after = {r.payload for r in spark.read.parquet(path).collect()}
        assert after == before
        assert stats["rows"] == 120
        assert sorted(p.name for p in tmp_path.iterdir()) == ["tbl"]


class TestPhashNearDup:
    def test_banded_matches_allpairs(self, spark, sf_small):
        """Pigeonhole banding (7x9-bit) must find EXACTLY the all-pairs
        Hamming<=6 set — recall is guaranteed, not approximate."""
        from pyspark.sql import functions as F

        from hadoopwebgraph_spark.catalog import load
        from hadoopwebgraph_spark.functions.multimodal import (
            phash_media_table,
            phash_neardup_pairs,
            phash_signatures,
        )

        sig = phash_signatures(
            phash_media_table(load(spark, sf_small, "documents"))
        ).cache()
        banded = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in phash_neardup_pairs(sig).collect()
        }
        a, b = sig.alias("a"), sig.alias("b")
        ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
        brute = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in a.join(b, F.col("a.media_id") < F.col("b.media_id"))
            .select(
                F.col("a.media_id").alias("doc_a"),
                F.col("b.media_id").alias("doc_b"),
                ham.cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= 6)
            .collect()
        }
        sig.unpersist()
        assert banded == brute
        assert len(banded) > 0  # the fixture genuinely contains near-dups

    def test_phash_pure_function_of_pixels(self, spark, sf_small):
        """Same doc -> same hash across runs (pHash is a pure function of
        the decoded pixels; no partitioning or batching dependence)."""
        from hadoopwebgraph_spark.catalog import load
        from hadoopwebgraph_spark.functions.multimodal import (
            phash_media_table,
            phash_signatures,
        )

        docs = load(spark, sf_small, "documents")
        h1 = {
            r.media_id: r.phash
            for r in phash_signatures(phash_media_table(docs)).collect()
        }
        h2 = {
            r.media_id: r.phash
            for r in phash_signatures(
                phash_media_table(docs).repartition(13)
            ).collect()
        }
        assert h1 == h2


class TestCompactMarkerProtocol:
    def test_cleared_marker_discards_partial_install(self, spark, tmp_path):
        """Crash mid-install (originals fully moved out, staging half
        copied into base): the cleared marker tells recovery to DROP the
        partial install and restore the originals — merging would
        double rows."""
        import shutil

        from hadoopwebgraph_spark.functions import maintenance

        path = str(tmp_path / "tbl")
        _make_small_files(spark, path)
        before = {r.payload for r in spark.read.parquet(path).collect()}
        # fabricate: originals in .old-tok, base holds a partial install
        shutil.move(path, str(tmp_path / "tbl.old-tok"))
        _make_small_files(spark, path, n_files=1, rows=40)  # partial staging
        (tmp_path / "tbl.swap-begin-tok").touch()
        (tmp_path / "tbl.swap-cleared-tok").touch()

        maintenance.compact_files(spark, path, target_bytes=1 << 30)
        after = {r.payload for r in spark.read.parquet(path).collect()}
        assert after == before
        assert sorted(p.name for p in tmp_path.iterdir()) == ["tbl"]

    def test_begin_marker_merges_split_move(self, spark, tmp_path):
        """Crash midway through the per-object base->old move (files
        split across both dirs): the begin-only marker tells recovery to
        merge them back — every row lives in exactly one of the two."""
        import shutil

        from hadoopwebgraph_spark.functions import maintenance

        path = str(tmp_path / "tbl")
        _make_small_files(spark, path)
        before = {r.payload for r in spark.read.parquet(path).collect()}
        # move half the files out, as a crashed per-object move would
        old = tmp_path / "tbl.old-tok"
        old.mkdir()
        files = sorted((tmp_path / "tbl").glob("*.parquet"))
        assert len(files) >= 2
        for f in files[: len(files) // 2]:
            shutil.move(str(f), str(old / f.name))
        (tmp_path / "tbl.swap-begin-tok").touch()

        maintenance.compact_files(spark, path, target_bytes=1 << 30)
        after = {r.payload for r in spark.read.parquet(path).collect()}
        assert after == before
        assert sorted(p.name for p in tmp_path.iterdir()) == ["tbl"]

    def test_ambiguous_preprotocol_state_raises(self, spark, tmp_path):
        """Missing base + several unmarked .old-* backups: refuse and
        raise instead of guessing which one to restore (deleting any of
        them could be total data loss)."""
        import pytest

        from hadoopwebgraph_spark.functions import maintenance

        path = str(tmp_path / "tbl")
        _make_small_files(spark, str(tmp_path / "tbl.old-a"), rows=10)
        _make_small_files(spark, str(tmp_path / "tbl.old-b"), rows=10)
        with pytest.raises(RuntimeError, match="multiple backup"):
            maintenance.compact_files(spark, path, target_bytes=1 << 30)
        # both backups untouched
        assert (tmp_path / "tbl.old-a").exists()
        assert (tmp_path / "tbl.old-b").exists()


def test_incremental_dedup_stream_empty_dir_raises(spark, tmp_path):
    """Round-10 hardening applied to BOTH file streams: an empty watch
    dir with no declared schema must refuse to start."""
    import os

    import pytest

    from hadoopwebgraph_spark.functions.dedup import incremental_dedup_stream

    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    with pytest.raises(ValueError, match="pass schema= explicitly"):
        incremental_dedup_stream(
            spark,
            incoming,
            str(tmp_path / "snap"),
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )


def test_phash_bands_guard():
    """bands <= hamming_max voids the pigeonhole recall guarantee and
    must raise, not silently return incomplete pairs."""
    import pytest

    from hadoopwebgraph_spark.functions.multimodal import phash_neardup_pairs

    with pytest.raises(ValueError, match="pigeonhole"):
        phash_neardup_pairs(None, hamming_max=7, bands=7)


def test_random_walks_checkpoint_interval_guard(spark):
    import pytest

    from hadoopwebgraph_spark.queries.graph_algos import random_walks

    with pytest.raises(ValueError, match="checkpoint_interval"):
        random_walks(
            spark.createDataFrame([(0, 1)], "src long, dst long"),
            checkpoint_interval=0,
        )


def test_crash_mid_recovery_restore_merges_not_deletes(spark, tmp_path, monkeypatch):
    """ADVICE r10 (medium): recovery's cleared branch must demote to the
    begin-only state (delete the .swap-cleared marker) BEFORE restoring
    .old-token -> base. On object storage the restore is per-object; a
    crash midway leaves originals split across base and .old-token. If
    the cleared marker survived that crash, the NEXT recovery would
    base_exists() -> delete_dir(base) and permanently destroy the
    already-restored half. This test injects exactly that mid-restore
    crash and asserts the second run MERGES, never deletes."""
    import os
    import shutil

    from hadoopwebgraph_spark.functions import maintenance
    from hadoopwebgraph_spark.bvgraph.storage import move_dir as real_move

    path = str(tmp_path / "tbl")
    _make_small_files(spark, path)
    before = {r.payload for r in spark.read.parquet(path).collect()}
    # fabricate the cleared crash state: originals fully in .old-tok,
    # base holding a partial staging install
    shutil.move(path, str(tmp_path / "tbl.old-tok"))
    _make_small_files(spark, path, n_files=1, rows=40)
    (tmp_path / "tbl.swap-begin-tok").touch()
    (tmp_path / "tbl.swap-cleared-tok").touch()

    class _Crash(RuntimeError):
        pass

    def half_move_then_crash(fs, src, dst):
        # per-object move that dies halfway, as object storage would
        os.makedirs(dst, exist_ok=True)
        files = sorted(os.listdir(src))
        for f in files[: max(1, len(files) // 2)]:
            shutil.move(os.path.join(src, f), os.path.join(dst, f))
        raise _Crash("injected mid-restore")

    monkeypatch.setattr(maintenance, "move_dir", half_move_then_crash)
    with pytest.raises(_Crash):
        maintenance.compact_files(spark, path, target_bytes=1 << 30)
    # the cleared marker must already be gone (demoted before the move),
    # so the next recovery takes the idempotent begin-only merge branch
    assert not (tmp_path / "tbl.swap-cleared-tok").exists()
    assert (tmp_path / "tbl.swap-begin-tok").exists()
    assert (tmp_path / "tbl").exists() and (tmp_path / "tbl.old-tok").exists()

    monkeypatch.setattr(maintenance, "move_dir", real_move)
    maintenance.compact_files(spark, path, target_bytes=1 << 30)
    after = {r.payload for r in spark.read.parquet(path).collect()}
    assert after == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["tbl"]


def test_compact_files_crash_sweep_every_mutation(spark, tmp_path, monkeypatch):
    """Exhaustive crash injection: kill compact_files at the 1st, 2nd,
    ... k-th filesystem mutation (marker writes, moves, deletes) and
    assert a plain re-run always converges with every row intact and no
    residue. This certifies the whole marker protocol, not just the
    hand-picked windows above."""
    from hadoopwebgraph_spark.functions import maintenance
    from hadoopwebgraph_spark.bvgraph.storage import move_dir as real_move

    path = str(tmp_path / "tbl")
    _make_small_files(spark, path)
    before = {r.payload for r in spark.read.parquet(path).collect()}

    class _Crash(RuntimeError):
        pass

    crash_at = 0
    calls = {"n": 0}

    def tick():
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise _Crash(f"injected at mutation {crash_at}")

    def counting_move(fs, src, dst):
        tick()
        real_move(fs, src, dst)

    # pyarrow filesystem objects are C extensions (attrs read-only), so
    # inject the counter through a proxy returned by fs_for_path instead
    from hadoopwebgraph_spark.bvgraph.io import fs_for_path as real_ffp

    class _CountingFS:
        def __init__(self, fs):
            self._fs = fs

        def open_output_stream(self, p, *a, **k):
            if ".swap-" in p:
                tick()
            return self._fs.open_output_stream(p, *a, **k)

        def delete_file(self, p, *a, **k):
            tick()
            return self._fs.delete_file(p, *a, **k)

        def delete_dir(self, p, *a, **k):
            tick()
            return self._fs.delete_dir(p, *a, **k)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def counting_ffp(path_):
        fs, base = real_ffp(path_)
        return _CountingFS(fs), base

    monkeypatch.setattr(maintenance, "fs_for_path", counting_ffp)
    monkeypatch.setattr(maintenance, "move_dir", counting_move)

    maintenance.compact_files(spark, path, target_bytes=1 << 30)
    total_mutations = calls["n"]
    assert total_mutations >= 6  # 2 markers + 2 moves + old dir + 2 marker dels

    for k in range(1, total_mutations + 1):
        crash_at, calls["n"] = k, 0
        try:
            maintenance.compact_files(spark, path, target_bytes=1 << 30)
        except _Crash:
            pass
        # recovery re-run (no injection)
        crash_at = 0
        maintenance.compact_files(spark, path, target_bytes=1 << 30)
        after = {r.payload for r in spark.read.parquet(path).collect()}
        assert after == before, f"rows lost after crash at mutation {k}"
        assert sorted(p.name for p in tmp_path.iterdir()) == ["tbl"], (
            f"residue after crash at mutation {k}: "
            f"{sorted(p.name for p in tmp_path.iterdir())}"
        )


def test_digest_snapshot_crash_sweep_every_mutation(spark, tmp_path, monkeypatch):
    """Exhaustive crash injection for compact_digest_snapshot: kill it
    at the 1st..k-th filesystem mutation and assert the documented
    superset invariant — after ANY crash the surviving partitions dedup
    identically (digest set is a superset that contains every original
    digest) — and that re-running the compaction converges to a single
    partition with the exact original digest set."""
    from hadoopwebgraph_spark.bvgraph.io import fs_for_path as real_ffp
    from hadoopwebgraph_spark.bvgraph.storage import move_dir as real_move
    from hadoopwebgraph_spark.functions import maintenance
    from hadoopwebgraph_spark.functions.dedup import _dedup_one_batch

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    digests = str(tmp_path / "snap" / "digests")
    out = str(tmp_path / "out")
    for i, texts in enumerate([["a", "b"], ["b", "c"], ["c", "d"]]):
        b = spark.createDataFrame(
            [(10 * i + j, t, "en", "web", len(t)) for j, t in enumerate(texts)],
            schema,
        )
        _dedup_one_batch(b, i, digests, out)
    original = {r["h"] for r in spark.read.parquet(digests).collect()}
    assert len(original) == 4

    class _Crash(RuntimeError):
        pass

    crash_at = 0
    calls = {"n": 0}

    def tick():
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise _Crash(f"injected at mutation {crash_at}")

    class _CountingFS:
        def __init__(self, fs):
            self._fs = fs

        def delete_dir(self, p, *a, **k):
            tick()
            return self._fs.delete_dir(p, *a, **k)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def counting_ffp(path_):
        fs, base = real_ffp(path_)
        return _CountingFS(fs), base

    def counting_move(fs, src, dst):
        tick()
        real_move(fs, src, dst)

    monkeypatch.setattr(maintenance, "fs_for_path", counting_ffp)
    monkeypatch.setattr(maintenance, "move_dir", counting_move)

    # count mutations in a clean run
    maintenance.compact_digest_snapshot(spark, digests)
    total = calls["n"]
    assert total >= 4  # install move + >= 3 old-partition deletes
    assert {r["h"] for r in spark.read.parquet(digests).collect()} == original

    for k in range(1, total + 1):
        # rebuild a fresh multi-partition snapshot for each crash point
        import shutil

        shutil.rmtree(str(tmp_path / "snap"))
        for i, texts in enumerate([["a", "b"], ["b", "c"], ["c", "d"]]):
            b = spark.createDataFrame(
                [
                    (10 * i + j, t, "en", "web", len(t))
                    for j, t in enumerate(texts)
                ],
                schema,
            )
            _dedup_one_batch(b, i, digests, out)
        crash_at, calls["n"] = k, 0
        try:
            maintenance.compact_digest_snapshot(spark, digests)
        except _Crash:
            pass
        # superset invariant: whatever survived still contains every
        # original digest (anti-join dedups identically on a superset)
        survived = {r["h"] for r in spark.read.parquet(digests).collect()}
        assert survived >= original, f"digests lost after crash at {k}"
        # convergence: a plain re-run folds to one partition, exact set
        crash_at, calls["n"] = 0, 0
        maintenance.compact_digest_snapshot(spark, digests)
        import os

        assert len(os.listdir(digests)) == 1
        final = {r["h"] for r in spark.read.parquet(digests).collect()}
        assert final == original, f"digest set wrong after crash at {k}"


def test_rh_lsh_banded_matches_allpairs(spark, sf_small):
    """q135's 6/5/5 pigeonhole banding must find EXACTLY the all-pairs
    Hamming<=2 set over the 16-bit signatures."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.catalog import load
    from hadoopwebgraph_spark.functions.similarity import (
        q135_rh_lsh_embedding,
        rh_lsh_signatures,
    )

    banded = {
        (r.vec_a, r.vec_b, r.hamming)
        for r in q135_rh_lsh_embedding(spark, sf_small).collect()
    }
    sig = rh_lsh_signatures(load(spark, sf_small, "embeddings")).localCheckpoint()
    a, b = sig.alias("a"), sig.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    brute = {
        (r.vec_a, r.vec_b, r.hamming)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
        .collect()
    }
    assert banded == brute
    assert len(banded) > 0


def test_leakage_safe_split_no_straddling_pairs(spark, sf_small):
    """The q139 contract: no MinHash candidate pair may straddle splits.
    Recompute the per-doc split assignment and anti-join it against the
    candidate pairs — the straddle set must be empty (and non-vacuously:
    the fixture must actually have candidate pairs)."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.catalog import load
    from hadoopwebgraph_spark.functions.dedup import q62_dedup_minhash
    from hadoopwebgraph_spark.functions.sampling import TEST_DIGITS, VAL_DIGITS
    from hadoopwebgraph_spark.queries.graph_algos import connected_components

    cand = q62_dedup_minhash(spark, sf_small)
    assert cand.count() > 0, "fixture has no near-dup candidates - vacuous"
    cc = connected_components(
        cand.select(
            F.col("doc_a").cast("long").alias("src"),
            F.col("doc_b").cast("long").alias("dst"),
        )
    )
    docs = load(spark, sf_small, "documents").select("doc_id")
    labeled = docs.join(cc, docs.doc_id == cc.node, "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )
    d = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1)
    split = (
        F.when(d.isin(*VAL_DIGITS), F.lit("val"))
        .when(d.isin(*TEST_DIGITS), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    assign = labeled.select("doc_id", split.alias("split"))
    a = assign.withColumnsRenamed({"doc_id": "doc_a", "split": "split_a"})
    b = assign.withColumnsRenamed({"doc_id": "doc_b", "split": "split_b"})
    straddle = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert straddle.count() == 0

    # contrast: the doc-level split (q87's rule) DOES straddle some pair
    # on this fixture — i.e. q139 is a strictly stronger guarantee here
    d_doc = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    doc_split = (
        F.when(d_doc.isin(*VAL_DIGITS), F.lit("val"))
        .when(d_doc.isin(*TEST_DIGITS), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    doc_assign = docs.select("doc_id", doc_split.alias("split"))
    a2 = doc_assign.withColumnsRenamed({"doc_id": "doc_a", "split": "split_a"})
    b2 = doc_assign.withColumnsRenamed({"doc_id": "doc_b", "split": "split_b"})
    doc_straddle = (
        cand.join(a2, "doc_a")
        .join(b2, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert doc_straddle.count() > 0


def test_unigram_logprob_keep_rate_sane(spark, sf_small):
    """q140 must neither keep everything nor drop everything, and the
    keep flag must equal the integer threshold comparison exactly."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.functions.text import (
        LOGPROB_THRESH_MICRO,
        q140_unigram_logprob,
    )

    out = q140_unigram_logprob(spark, sf_small).collect()
    n_keep = sum(1 for r in out if r.keep)
    assert 0 < n_keep < len(out)
    for r in out:
        assert r.keep == (r.sum_lnp_micro >= LOGPROB_THRESH_MICRO * r.n_toks)


def test_prefix_filter_prunes_and_is_complete(spark, sf_small):
    """The PPJoin prefix filter must (a) never lose a true pair —
    candidates are a superset of the Jaccard>=tau result — and (b)
    actually prune: strictly fewer candidates than overlapping pairs
    (the quadratic baseline it replaces)."""
    from hadoopwebgraph_spark.functions.dedup import (
        _jaccard_token_sets,
        _prefix_filter_candidates,
        q142_prefix_jaccard_join,
    )
    from pyspark.sql import functions as F

    sets = _jaccard_token_sets(spark, sf_small)
    cand = _prefix_filter_candidates(sets).persist()
    true_pairs = q142_prefix_jaccard_join(spark, sf_small).select(
        "doc_a", "doc_b"
    )
    # completeness: every true pair is a candidate
    assert true_pairs.join(cand, ["doc_a", "doc_b"], "left_anti").count() == 0

    # pruning: candidates < all pairs sharing ANY token (what a naive
    # inverted-index join would generate)
    toks = sets.select("doc_id", F.explode("toks").alias("tok"))
    a = toks.select("tok", F.col("doc_id").alias("doc_a"))
    b = toks.select("tok", F.col("doc_id").alias("doc_b"))
    overlapping = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    n_cand = cand.count()
    cand.unpersist()
    assert 0 < n_cand < overlapping


def test_misra_gries_candidates_lossless_and_bounded(spark):
    """On a constructed Zipf-ish stream (500 distinct tokens, head token
    ~1000x the tail), the MG candidate set must (a) contain EVERY token
    whose global frequency clears the q143 threshold — the losslessness
    the operator's exactness rests on — and (b) be bounded by
    partitions * capacity, i.e. actually prune the 500-token vocabulary."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.functions.text import (
        HH_MG_CAPACITY,
        HH_PHI_BP,
        misra_gries_candidates,
    )

    rows = []
    for i in range(1, 501):
        rows.extend([(f"t{i}",)] * max(1, 3000 // (i * i)))
    toks = spark.createDataFrame(rows, "tok string").repartition(8)
    n = len(rows)

    cand = misra_gries_candidates(toks, HH_MG_CAPACITY)
    cand_set = {r.tok for r in cand.collect()}
    assert len(cand_set) <= 8 * HH_MG_CAPACITY < 500

    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).collect()
    heavy = {r.tok for r in exact if r.c * 10000 >= HH_PHI_BP * n}
    assert heavy, "constructed stream must have at least one heavy hitter"
    assert heavy <= cand_set


def test_q143_equals_bruteforce(spark, sf_small):
    """The verified heavy-hitter output must equal the brute-force full
    groupBy — partition-count independent despite the MG intermediate."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.functions.text import (
        HH_PHI_BP,
        q143_heavy_hitters,
    )
    from hadoopwebgraph_spark.catalog import load

    out = {(r.tok, r.cnt) for r in q143_heavy_hitters(spark, sf_small).collect()}
    d = load(spark, sf_small, "documents").filter(F.col("text") != "")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    n = toks.count()
    brute = {
        (r.tok, r.c)
        for r in toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).collect()
        if r.c * 10000 >= HH_PHI_BP * n
    }
    assert out == brute and len(out) > 0


def test_topo_levels_edge_invariant_and_cycle_raise(spark):
    """Longest-path levels must satisfy level(dst) >= level(src) + 1 on
    EVERY condensation edge (non-vacuously: the fixture DAG has depth
    >= 1), and a cyclic input must raise instead of spinning."""
    import pytest
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.queries.graph_algos import (
        _hb_edges,
        _scc_fixture,
        condensation,
        topological_levels,
    )

    cond = condensation(_hb_edges(spark), scc=_scc_fixture(spark)).persist()
    lvl = topological_levels(cond)
    ls = lvl.select(F.col("node").alias("src"), F.col("level").alias("lsrc"))
    ld = lvl.select(F.col("node").alias("dst"), F.col("level").alias("ldst"))
    bad = (
        cond.join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("ldst") < F.col("lsrc") + 1)
        .count()
    )
    assert bad == 0
    assert lvl.agg(F.max("level")).first()[0] >= 1
    assert lvl.filter(F.col("level") == 0).count() >= 1
    cond.unpersist()

    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="cycle"):
        topological_levels(cyc, max_levels=16)


def test_topo_levels_isolated_node_appears_at_level_zero(spark):
    """ADVICE r10: a node with no arc at all (an isolated SCC in a
    condensation) must appear at level 0 when the caller supplies the
    node universe — edge endpoints alone would silently drop it."""
    from hadoopwebgraph_spark.queries.graph_algos import topological_levels

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (3,), (99,)], "scc_id long")
    got = {
        (r.node, r.level)
        for r in topological_levels(edges, nodes=nodes).collect()
    }
    assert got == {(1, 0), (2, 1), (3, 2), (99, 0)}


def test_winnow_shared_substring_guarantee_and_density(spark):
    """The MOSS guarantee: two documents sharing a word run long enough
    to cover a full winnowing window (>= W + K - 1 words) must share at
    least one selected fingerprint HASH; and selection is denser-bounded
    — strictly fewer fingerprints than grams on a long document."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.functions.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    shared = " ".join(f"s{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    doc_a = "alpha beta gamma " + shared + " delta epsilon"
    doc_b = "one two three four five " + shared + " six seven"
    long_doc = " ".join(f"w{i % 17}x{i % 13}" for i in range(200))
    d = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, long_doc)], "doc_id long, text string"
    )
    fps = winnow_fingerprints(d).persist()

    a = {r.fp for r in fps.filter(F.col("doc_id") == 1).collect()}
    b = {r.fp for r in fps.filter(F.col("doc_id") == 2).collect()}
    assert a & b, "documents sharing a full-window run must share a fingerprint"

    n_sel = fps.filter(F.col("doc_id") == 3).count()
    n_grams = 200 - WINNOW_K + 1
    assert 0 < n_sel < n_grams / 2
    fps.unpersist()


def test_weighted_sssp_converged_relaxation_invariant(spark):
    """At the fixture, 16 rounds must reach the fixpoint (18 rounds give
    the identical result), and the converged distances must satisfy the
    Bellman relaxation invariant dist(v) <= dist(u) + w(u,v) on EVERY
    edge whose source is reached — with dist(source)=0 and all
    distances bounded by [hops, 4*hops] of the unweighted BFS."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.queries.graph import edges_df
    from hadoopwebgraph_spark.queries.graph_algos import (
        _edge_weight_expr,
        bfs_distances,
        weighted_sssp,
    )

    e = edges_df(spark)
    d16 = weighted_sssp(e, source=0, rounds=16).persist()
    d18 = weighted_sssp(e, source=0, rounds=18)
    assert d16.exceptAll(d18).count() == 0
    assert d18.exceptAll(d16).count() == 0

    assert d16.filter(F.col("node") == 0).first().dist == 0

    we = e.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).distinct().withColumn("w", _edge_weight_expr())
    du = d16.select(F.col("node").alias("src"), F.col("dist").alias("dsrc"))
    dv = d16.select(F.col("node").alias("dst"), F.col("dist").alias("ddst"))
    violations = (
        we.join(du, "src")
        .join(dv, "dst")
        .filter(F.col("ddst") > F.col("dsrc") + F.col("w"))
        .count()
    )
    assert violations == 0

    hops = bfs_distances(e, source=0, max_hops=16).select(
        F.col("node"), F.col("d").cast("long").alias("h")
    )
    bad_bounds = (
        d16.join(hops, "node")
        .filter((F.col("dist") < F.col("h")) | (F.col("dist") > 4 * F.col("h")))
        .count()
    )
    assert bad_bounds == 0
    d16.unpersist()


def test_token_budget_select_boundary_bucket_is_split(spark, sf_small):
    """Non-vacuous cut placement: the selection must include SOME but not
    ALL docs of exactly one score bucket (the boundary), include every
    doc of strictly better buckets, and stay within budget while the
    next doc_id in the boundary bucket would overflow it."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.catalog import load
    from hadoopwebgraph_spark.functions.llmprep import (
        BUDGET_BP,
        q146_token_budget_select,
    )

    sel = q146_token_budget_select(spark, sf_small).persist()
    d = load(spark, sf_small, "documents").filter(F.col("text") != "")
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
        F.expr(
            "CAST((1000 * size(array_distinct(split(text, ' '))))"
            " div size(split(text, ' ')) AS BIGINT)"
        ).alias("score"),
    ).persist()
    n = t.agg(F.sum("n_toks")).first()[0]

    have = {r.score: r["count"] for r in sel.groupBy("score").count().collect()}
    all_ = {r.score: r["count"] for r in t.groupBy("score").count().collect()}
    partial = [s for s in have if have[s] < all_[s]]
    assert len(partial) == 1, (have, all_)
    boundary = partial[0]
    assert all(s >= boundary for s in have)
    for s, c in all_.items():
        if s > boundary:
            assert have.get(s) == c, s

    used = sel.agg(F.sum("n_toks")).first()[0]
    assert used * 10000 <= BUDGET_BP * n
    # the cheapest unselected boundary doc would overflow the budget
    sel_b = {r.doc_id for r in sel.filter(F.col("score") == boundary).collect()}
    rest = (
        t.filter(F.col("score") == boundary)
        .filter(~F.col("doc_id").isin(list(sel_b)))
        .orderBy("doc_id")
        .first()
    )
    assert rest is not None
    assert (used + rest.n_toks) * 10000 > BUDGET_BP * n
    sel.unpersist()
    t.unpersist()


def test_containment_prefix_is_tiny_and_complete(spark, sf_small):
    """The containment probe indexes only each eval doc's rarest 1-3
    tokens: the broadcast prefix table must be <= 3 rows per eval doc,
    and the candidate set must still cover every true >= tau pair
    (completeness is also proven by the oracle; this pins the PRUNING)."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.functions.dedup import (
        CONTAIN_TAU_BP,
        _jaccard_token_sets,
        q147_containment_decontaminate,
    )

    sets = _jaccard_token_sets(spark, sf_small)
    ev = sets.filter(F.col("doc_id") < 50)
    p = F.expr(f"CAST(n - ({CONTAIN_TAU_BP} * n + 9999) div 10000 + 1 AS INT)")
    prefix = ev.select("doc_id", F.explode(F.slice("toks", 1, p)).alias("tok"))
    per_doc = prefix.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    n_prefix = prefix.count()
    n_all = ev.select("doc_id", F.explode("toks")).count()
    assert per_doc <= 3
    assert n_prefix < n_all / 5  # the probe side is a small fraction

    out = q147_containment_decontaminate(spark, sf_small)
    # every flagged pair clears the threshold and spans the eval/train cut
    bad = out.filter(
        (F.col("containment_bp") < CONTAIN_TAU_BP)
        | (F.col("doc_eval") >= 50)
        | (F.col("doc_train") < 50)
    ).count()
    assert bad == 0 and out.count() > 0


def test_subgraph_renumber_ids_dense_and_edges_preserved(spark):
    """The relabeling must be a dense bijection 0..K-1 over kept nodes,
    and the renumbered edge multiset must be exactly the kept-edge
    multiset mapped through it (spot-checked via counts + a sampled
    adjacency row round-trip)."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.queries.graph import (
        edges_df,
        g41_subgraph_renumber,
    )

    out = g41_subgraph_renumber(spark, "unused").persist()
    stats = out.agg(
        F.count("*"), F.countDistinct("src"), F.min("src"), F.max("src")
    ).first()
    assert stats[0] == stats[1] == stats[3] + 1 and stats[2] == 0

    e = edges_df(spark)
    kept_edges = e.filter(
        (F.col("src") % 3 != 0) & (F.col("dst") % 3 != 0)
    ).count()
    total_out = out.agg(F.sum("outdeg")).first()[0]
    assert total_out == kept_edges and kept_edges > 0
    # no renumbered successor escapes the dense range
    mx = stats[3]
    bad = (
        out.filter(F.col("adj_str") != "")
        .select(F.explode(F.split("adj_str", ",")).alias("ds"))
        .select(F.col("ds").cast("long").alias("d"))
        .filter((F.col("d") < 0) | (F.col("d") > mx))
        .count()
    )
    assert bad == 0
    out.unpersist()


def test_triad_census_totals_and_connected_classes_only(spark):
    """The census total must equal the independently-counted number of
    distinct connected triples (>= 2 connected dyads), every emitted
    class must BE a >=2-dyad class (no 0-0-3 / 0-1-2 / 1-0-2), and the
    class codes must come from the validated canonical set."""
    from pyspark.sql import functions as F

    from hadoopwebgraph_spark.queries.graph import edges_df
    from hadoopwebgraph_spark.queries.motif import TRIAD_MAN, g42_triad_census

    out = g42_triad_census(spark, "unused").collect()
    assert all(r.man not in ("0-0-3", "0-1-2", "1-0-2") for r in out)
    assert all(r.triad_code in TRIAD_MAN for r in out)
    census_total = sum(r.n_triads for r in out)

    e = edges_df(spark).filter(F.col("src") != F.col("dst")).distinct()
    und = e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    ends = und.select(F.col("u").alias("c"), F.col("v").alias("o")).union(
        und.select(F.col("v").alias("c"), F.col("u").alias("o"))
    )
    a, b = ends.alias("a"), ends.alias("b")
    triples = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.o") < F.col("b.o")))
        .select(
            F.array_sort(F.array("a.c", "a.o", "b.o")).alias("t")
        )
        .distinct()
        .count()
    )
    assert census_total == triples > 0
