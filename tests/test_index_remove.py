"""Gate-index deletion (maintenance.remove_from_index /
remove_docs_from_line_index, VERDICT r9 item 2): append-only dedup
indexes permanently poison the re-submission of deleted content —
retention, takedown, and the reference's own quarantine-out-of-archive
(bin/save_DBB_stagein_to_DBB.py:244-267) all need the index side of a
deletion. Pins: delete → re-submit ACCEPTED across all four gate
families, retry idempotence preserved, emptied partitions removed,
composition with compact_gate_index, bounded state through
delete/compact cycles."""

from __future__ import annotations

import glob

import numpy as np
import pytest
from pyspark.sql import functions as F

from dbbspark.maintenance import remove_from_index
from dbbspark.sources.codecs import encode_pgm, resize_netpbm


def _img(seed):
    from test_phash import _smooth_image

    return encode_pgm(_smooth_image(seed))


def _resized(seed, size=32):
    return resize_netpbm(_img(seed), size, size)


def test_media_gate_delete_then_resubmit_accepted(spark, tmp_path):
    """The headline contract: a removed file's re-encode rejects before
    deletion and is ACCEPTED after, while unrelated index rows keep
    rejecting; the completion markers are untouched (a deletion is not
    a crash, so auto batch-id keeps advancing)."""
    from dbbspark.streaming.mediadedup import last_completed_batch, process_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    process_batch(
        spark.createDataFrame(
            [("a1", _img(1)), ("b1", _img(2))], "path string, content binary"
        ),
        0, idx, acc,
    )
    # pre-deletion: the re-encode rejects
    process_batch(
        spark.createDataFrame(
            [("a2", _resized(1))], "path string, content binary"
        ),
        1, idx, acc,
    )
    assert {r["path"] for r in spark.read.parquet(acc).collect()} == {
        "a1", "b1",
    }
    out = remove_from_index(spark, idx, ["a1"], id_col="mid")
    assert out["removed_rows"] == 1 and out["affected_batches"] == [0]
    # post-deletion: the same re-encode is judged fresh; b1's dup still
    # rejects (unrelated rows untouched)
    process_batch(
        spark.createDataFrame(
            [("a3", _resized(1, 48)), ("b2", _resized(2))],
            "path string, content binary",
        ),
        2, idx, acc,
    )
    assert {r["path"] for r in spark.read.parquet(acc).collect()} == {
        "a1", "b1", "a3",
    }
    assert {r["mid"] for r in spark.read.parquet(idx).collect()} == {
        "b1", "a3",
    }
    assert last_completed_batch(spark, idx) == 2


def test_remove_empties_partition_and_is_idempotent(spark, tmp_path):
    """A partition whose every row is removed disappears from disk (a
    dynamic overwrite cannot replace a partition with nothing), the
    index stays readable, and a re-run of the same deletion is a
    no-op."""
    from dbbspark.streaming.mediadedup import process_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    process_batch(
        spark.createDataFrame(
            [("a1", _img(11))], "path string, content binary"
        ),
        0, idx, acc,
    )
    process_batch(
        spark.createDataFrame(
            [("b1", _img(12)), ("c1", _img(13))], "path string, content binary"
        ),
        1, idx, acc,
    )
    out = remove_from_index(spark, idx, ["a1", "b1"], id_col="mid")
    assert out["removed_rows"] == 2
    assert out["emptied_batches"] == [0]
    assert not glob.glob(f"{idx}/batch=0")
    assert {r["mid"] for r in spark.read.parquet(idx).collect()} == {"c1"}
    again = remove_from_index(spark, idx, ["a1", "b1"], id_col="mid")
    assert again["removed_rows"] == 0 and again["affected_batches"] == []


def test_clip_gate_delete_then_resubmit_accepted(spark, tmp_path):
    from test_streaming_mediadedup import _clip_bytes

    from dbbspark.streaming.mediadedup import process_clip_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    b = spark.createDataFrame(
        [("a1", _clip_bytes())], "path string, content binary"
    )
    process_clip_batch(b, 0, idx, acc)
    # re-submission rejects against the indexed self
    process_clip_batch(
        spark.createDataFrame(
            [("a1b", _clip_bytes(trim=3))], "path string, content binary"
        ),
        1, idx, acc,
    )
    assert {r["path"] for r in spark.read.parquet(acc).collect()} == {"a1"}
    out = remove_from_index(spark, idx, ["a1"], id_col="mid")
    assert out["removed_rows"] == 8  # n_samples frame rows
    process_clip_batch(
        spark.createDataFrame(
            [("a1c", _clip_bytes(trim=3))], "path string, content binary"
        ),
        2, idx, acc,
    )
    assert {r["path"] for r in spark.read.parquet(acc).collect()} == {
        "a1", "a1c",
    }


def test_neardedup_delete_then_resubmit_accepted(spark, tmp_path):
    from test_streaming_neardedup import BANK, BARN, BEND

    from dbbspark.streaming.neardedup import process_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    process_batch(
        spark.createDataFrame([(1, BANK)], ["doc_id", "text"]), 0, idx, acc
    )
    process_batch(
        spark.createDataFrame([(2, BEND)], ["doc_id", "text"]), 1, idx, acc
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(acc).collect()
    } == {1}
    out = remove_from_index(spark, idx, [1], id_col="doc")
    assert out["removed_rows"] == 16  # num_perm signature rows
    process_batch(
        spark.createDataFrame([(3, BARN)], ["doc_id", "text"]), 2, idx, acc
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(acc).collect()
    } == {1, 3}


def test_ann_gate_delete_then_resubmit_accepted(spark, tmp_path):
    from test_streaming_annindex import _vec

    from dbbspark.operators.pq import train_ivfpq
    from dbbspark.streaming.annindex import process_batch

    base = spark.createDataFrame(
        [(i, _vec(i)) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, _vec(100)), (1, _vec(200)), (2, _vec(300))],
        "vec_id long, embedding array<double>",
    )
    books = train_ivfpq(base, cents, m=4, k=8)
    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    process_batch(
        spark.createDataFrame(
            [(1, _vec(1))], "vec_id long, embedding array<double>"
        ),
        0, idx, acc, cents, books,
    )
    process_batch(
        spark.createDataFrame(
            [(10, _vec(1))], "vec_id long, embedding array<double>"
        ),
        1, idx, acc, cents, books,
    )
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(acc).collect()
    ) == [1]
    out = remove_from_index(spark, idx, [1], id_col="vec_id")
    assert out["removed_rows"] == 1
    process_batch(
        spark.createDataFrame(
            [(11, _vec(1))], "vec_id long, embedding array<double>"
        ),
        2, idx, acc, cents, books,
    )
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(acc).collect()
    ) == [1, 11]


def test_line_index_docs_removal_releases_boilerplate(spark, tmp_path):
    """(h, df) snapshot decrement: after removing one of the two docs
    that pushed a line to min_df, a later doc keeps the line again;
    a removed-below-zero count clamps (never negative)."""
    from test_streaming_linededup import BODY1, BODY2, BODY3, BOILER

    from dbbspark.maintenance import remove_docs_from_line_index
    from dbbspark.streaming.linededup import index_df, process_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    process_batch(
        spark.createDataFrame(
            [(1, f"{BOILER}\n{BODY1}"), (2, f"{BOILER}\n{BODY2}")],
            "doc_id long, text string",
        ),
        0, idx, out,
    )
    # control: BOILER is at df=2, a third doc loses it
    process_batch(
        spark.createDataFrame(
            [(3, f"{BOILER}\n{BODY3}")], "doc_id long, text string"
        ),
        1, idx, out,
    )
    texts = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert texts[3] == BODY3
    # remove every doc that carried BOILER: df falls 3 → 0 and the row
    # drops from the snapshot (the gate cuts at prior+occurrence >=
    # min_df, so only a zeroed count makes a re-submission first-again)
    res = remove_docs_from_line_index(
        spark,
        idx,
        spark.createDataFrame(
            [
                (1, f"{BOILER}\n{BODY1}"),
                (2, f"{BOILER}\n{BODY2}"),
                (3, f"{BOILER}\n{BODY3}"),
            ],
            "doc_id long, text string",
        ),
    )
    assert res["lines_dropped"] >= 4  # BOILER + the three bodies
    got = {r["h"]: r["df"] for r in index_df(spark, idx).collect()}
    assert all(v > 0 for v in got.values())  # never negative, never zero
    process_batch(
        spark.createDataFrame(
            [(4, f"{BOILER}\nfresh tail line")], "doc_id long, text string"
        ),
        2, idx, out,
    )
    texts = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert texts[4].startswith(BOILER)  # count zeroed → first-again → kept


def test_remove_composes_with_compacted_index(spark, tmp_path):
    """compact_gate_index collapses history into batch=-1; removal from
    the compacted partition must work the same (the layouts the op
    claims to ride)."""
    from dbbspark.maintenance import compact_gate_index
    from dbbspark.streaming.mediadedup import process_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    for i, seed in enumerate((21, 22, 23)):
        process_batch(
            spark.createDataFrame(
                [(f"x{seed}", _img(seed))], "path string, content binary"
            ),
            i, idx, acc,
        )
    backup = compact_gate_index(spark, idx)
    out = remove_from_index(spark, idx, ["x22"], id_col="mid")
    assert out["removed_rows"] == 1 and out["affected_batches"] == [-1]
    assert {r["mid"] for r in spark.read.parquet(idx).collect()} == {
        "x21", "x23",
    }
    # the gate keeps functioning over the compacted+pruned index
    process_batch(
        spark.createDataFrame(
            [("y22", _resized(22)), ("y23", _resized(23))],
            "path string, content binary",
        ),
        3, idx, acc,
    )
    got = {r["path"] for r in spark.read.parquet(acc).collect()}
    assert "y22" in got and "y23" not in got
    assert backup


def test_bounded_state_through_delete_compact_cycles(spark, tmp_path):
    """Ten batches with a delete+compact every third: index row count
    tracks live acceptances (never accumulates tombstones — deletion is
    physical), file count stays bounded by compaction, and decisions
    stay correct throughout."""
    from dbbspark.maintenance import compact_gate_index
    from dbbspark.streaming.mediadedup import process_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    removed = set()
    accepted = set()
    for b in range(10):
        name = f"s{b}"
        process_batch(
            spark.createDataFrame(
                [(name, _img(50 + b))], "path string, content binary"
            ),
            b, idx, acc,
        )
        accepted.add(name)
        if b % 3 == 2:
            victim = f"s{b - 1}"
            remove_from_index(spark, idx, [victim], id_col="mid")
            removed.add(victim)
            compact_gate_index(spark, idx)
            import shutil

            shutil.rmtree(f"{idx}.pre-compact", ignore_errors=True)
            shutil.rmtree(f"{idx}.pre-remove", ignore_errors=True)
    live = {r["mid"] for r in spark.read.parquet(idx).collect()}
    assert live == accepted - removed
    files = len(glob.glob(f"{idx}/**/*.parquet", recursive=True))
    assert files <= 5  # compaction bounds growth; 10 appends would be >=10


def test_remove_validation(spark, tmp_path):
    from dbbspark.streaming.mediadedup import process_batch

    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    process_batch(
        spark.createDataFrame(
            [("a", _img(31))], "path string, content binary"
        ),
        0, idx, acc,
    )
    with pytest.raises(ValueError, match="no column"):
        remove_from_index(spark, idx, ["a"], id_col="nope")
    assert remove_from_index(spark, idx, [], id_col="mid")["removed_rows"] == 0


def test_ann_gate_delete_from_multi_generation_index(spark, tmp_path):
    """C59 x C39 composition (VERDICT r10 item 6): remove_from_index on a
    LAZILY-REKEYED index that holds codes under TWO codebook generations
    in one dataset (gen-0 rows never re-encoded, gen-1 rows post-retrain).
    mergeSchema makes the deletion work by construction; this pins that a
    post-delete gate still scores every REMAINING stratum under its own
    generation: the deleted vector's near-dup flips reject->accept, a
    remaining gen-0 sibling and the gen-1 stratum keep rejecting, a far
    vector keeps being accepted, and both generations survive in the
    index and the quantizer store."""
    import glob
    import os
    import shutil

    from test_streaming_annindex import (
        _centers,
        _cluster_vec,
        _mk,
        train_centroids_for_test,
    )

    from dbbspark.operators.pq import train_ivfpq
    from dbbspark.streaming.annindex import (
        _index_codes,
        gate_batch,
        index_generations,
        load_quantizer_generations,
        streaming_ann_gate_with_drift,
    )

    a, b = _centers()
    boot = _mk(spark, [(1000 + i, _cluster_vec(a, i)) for i in range(60)])
    cents = train_centroids_for_test(spark, boot)
    books = train_ivfpq(boot, cents, m=4, k=8)

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for name, rows in (
        ("b1", [(i, _cluster_vec(a, i)) for i in range(20)]),
        ("b2", [(100 + i, _cluster_vec(b, i)) for i in range(20)]),
    ):
        stage = str(tmp_path / f"stage_{name}")
        _mk(spark, rows).coalesce(1).write.parquet(stage)
        shutil.move(
            glob.glob(f"{stage}/part-*.parquet")[0],
            os.path.join(src, f"{name}.parquet"),
        )
    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    q, state = streaming_ann_gate_with_drift(
        (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        ),
        idx, acc, str(tmp_path / "ck"), cents, books,
        eps=0.05, drift_stds=2.0, rekey="lazy",
        rekey_batches_per_trigger=0,
    )
    q.awaitTermination()
    assert state["retrains"] == 1
    assert index_generations(spark, idx) == [0, 1]

    accepted = {r["vec_id"]: r["embedding"]
                for r in spark.read.parquet(acc).collect()}
    gen0 = sorted(v for v in accepted if v < 100)
    gen1 = sorted(v for v in accepted if v >= 100)
    victim, sibling = gen0[0], gen0[1]

    def probes():
        near_victim = [v + (0.002 if j == 0 else 0.0)
                       for j, v in enumerate(accepted[victim])]
        near_sibling = [v + (0.002 if j == 0 else 0.0)
                        for j, v in enumerate(accepted[sibling])]
        near_new = [v + (0.002 if j == 0 else 0.0)
                    for j, v in enumerate(accepted[gen1[0]])]
        far = [4.0, -4.0] + [0.1] * 14
        return _mk(spark, [(900, near_victim), (901, near_sibling),
                           (902, near_new), (903, far)])

    store = load_quantizer_generations(spark, idx)
    by_gen = {
        **store,
        state["gen"]: (state["centroids"], state["codebooks"]),
    }

    def gate_ids():
        got, _ = gate_batch(
            probes(), _index_codes(spark, idx, with_gen=True),
            state["centroids"], state["codebooks"],
            quantizers_by_gen=by_gen,
        )
        return {r["vec_id"] for r in got.collect()}

    # pre-delete: every near-dup rejects, only the far vector passes
    assert gate_ids() == {903}

    out = remove_from_index(spark, idx, [victim], id_col="vec_id")
    assert out["removed_rows"] == 1

    # post-delete: the victim's near-dup is judged FRESH; the remaining
    # gen-0 sibling and the gen-1 stratum still reject under their own
    # codebook generations; far still passes
    assert gate_ids() == {900, 903}
    assert index_generations(spark, idx) == [0, 1]
    assert {0, 1} <= set(load_quantizer_generations(spark, idx))
