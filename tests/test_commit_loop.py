"""The transactional table's one commit loop (`sinks._commit_loop`) and
the deletion-vector read that `_scan_committed` and `read_changes`
share.

- Every writer gives up after `COMMIT_RETRIES` lost claims with a
  RuntimeError naming the writer and the table, leaving the log and the
  table directory as they were: no new version, no staged file left.
  The lost claim is real — `os.link` fails with EEXIST, as it does when
  another writer took the version — and no internal function is faked.
- The CDC read's deletion-vector join obeys the same broadcast size
  gate as the snapshot scan's.
"""

from __future__ import annotations

import os

import pytest


def _table(spark, path):
    """A two-commit table with one CHECK constraint."""
    from kommunedata_data_pipeline_spark.sources import sinks

    sinks.merge_upsert(
        spark.createDataFrame([(i, "x") for i in range(6)], "k int, v string"),
        path,
        ["k"],
    )
    sinks.merge_upsert(
        spark.createDataFrame(
            [(i, "y") for i in range(6, 9)], "k int, v string"
        ),
        path,
        ["k"],
    )
    sinks.set_check_constraint(spark, path, "k_nonneg", "k >= 0")


def _writes(spark, sinks, path):
    """One committing call per writer (and per merge_delete mode)."""
    rows = "k int, v string"
    return {
        "merge_upsert": lambda: sinks.merge_upsert(
            spark.createDataFrame([(100, "n"), (101, "n")], rows),
            path,
            ["k"],
        ),
        "merge_update": lambda: sinks.merge_update(
            spark.createDataFrame([(1, "changed"), (200, "new")], rows),
            path,
            ["k"],
        ),
        "merge_delete_cow": lambda: sinks.merge_delete(
            spark.createDataFrame([(2,)], "k int"), path, ["k"]
        ),
        "merge_delete_dv": lambda: sinks.merge_delete(
            spark.createDataFrame([(3,)], "k int"), path, ["k"], mode="dv"
        ),
        "optimize_table": lambda: sinks.optimize_table(spark, path),
        "set_check_constraint": lambda: sinks.set_check_constraint(
            spark, path, "v_set", "v IS NOT NULL"
        ),
        "drop_check_constraint": lambda: sinks.drop_check_constraint(
            path, "k_nonneg"
        ),
    }


def _stray_parquet(sinks, path) -> list[str]:
    """Parquet files under the table dir that the manifest (live data
    files plus live deletion-vector sidecars) does not name."""
    st = sinks._resolve_log(path)
    keep = {os.path.normpath(f) for f in st.files}
    keep |= {os.path.normpath(s) for v in st.dv.values() for s, _n in v}
    stray = []
    for root, _dirs, files in os.walk(path):
        for fn in files:
            rel = os.path.normpath(
                os.path.relpath(os.path.join(root, fn), path)
            )
            if fn.endswith(".parquet") and rel not in keep:
                stray.append(rel)
    return stray


@pytest.mark.parametrize(
    "case",
    [
        "merge_upsert",
        "merge_update",
        "merge_delete_cow",
        "merge_delete_dv",
        "optimize_table",
        "set_check_constraint",
        "drop_check_constraint",
    ],
)
def test_every_writer_gives_up_cleanly_after_commit_retries(
    spark, tmp_path, monkeypatch, case
):
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    _table(spark, path)
    head = sinks.committed_files(path)[0]
    assert _stray_parquet(sinks, path) == []
    write = _writes(spark, sinks, path)[case]

    claims = {"n": 0}

    def lost_claim(src, dst, *a, **kw):
        claims["n"] += 1
        raise FileExistsError(dst)

    monkeypatch.setattr(sinks, "COMMIT_RETRIES", 2)
    monkeypatch.setattr(os, "link", lost_claim)
    with pytest.raises(RuntimeError) as err:
        write()
    monkeypatch.undo()

    writer = case.removesuffix("_cow").removesuffix("_dv")
    assert writer in str(err.value) and path in str(err.value)
    assert claims["n"] == 2  # one lost claim per attempt
    assert sinks.committed_files(path)[0] == head
    assert _stray_parquet(sinks, path) == []
    assert not [d for d in os.listdir(path) if d.startswith("_kdp_stage_")]
    # the table still takes the same write once claims succeed again
    write()
    assert sinks.committed_files(path)[0] == head + 1


def test_read_changes_dv_join_obeys_broadcast_gate(
    spark, tmp_path, monkeypatch
):
    """`read_changes` resolves a deletion-vector commit through the same
    size-gated join as the snapshot scan: below the gate the sidecars
    are broadcast-hinted, above it (gate 0) the join is left to Spark."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(i, "x") for i in range(6)], "k int, v string"),
        path,
        ["k"],
    )  # v0
    assert (
        sinks.merge_delete(
            spark.createDataFrame([(4,)], "k int"), path, ["k"], mode="dv"
        )
        == 1
    )  # v1

    def changes():
        ch = sinks.read_changes(spark, path, 0, 1)
        analyzed = ch._jdf.queryExecution().analyzed().toString().lower()
        rows = sorted(
            (r["k"], r["v"], r["_change_type"]) for r in ch.collect()
        )
        return "broadcast" in analyzed, rows

    hinted, rows = changes()
    assert hinted
    assert rows == [(4, "x", "delete")]
    monkeypatch.setattr(sinks, "BROADCAST_KEYSET_MAX_BYTES", 0)
    hinted, rows = changes()
    assert not hinted
    assert rows == [(4, "x", "delete")]
