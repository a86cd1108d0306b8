"""Match materialization (operators.match.output) — parity with the
reference's dir-per-pattern CSV sink incl. original-id remap
(core/OutputManager.hh:92-143)."""

from __future__ import annotations

from pyspark.sql import functions as F

from peregrine_spark.operators.match import match, output
from peregrine_spark.patterns.small_graph import PatternGenerator
from tests.conftest import edges_df


def test_output_parquet_roundtrip(spark, tmp_path):
    e = edges_df(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    tri = PatternGenerator.clique(3)
    written = output(e, tri, str(tmp_path / "out"), fmt="parquet")
    dirs = list((tmp_path / "out").iterdir())
    assert len(dirs) == 1  # one dir per pattern
    back = spark.read.parquet(str(dirs[0]))
    assert sorted(back.columns) == sorted(written.columns)
    got = {tuple(r) for r in back.collect()}
    expect = {tuple(r) for r in match(e, tri).collect()}
    assert got == expect == {(1, 2, 3), (2, 3, 4)}


def test_output_with_id_remap(spark, tmp_path):
    e = edges_df(spark, [(1, 2), (1, 3), (2, 3)])
    id_dict = spark.createDataFrame(
        [(1, "a:x"), (2, "b:y"), (3, "c:z")], "v long, key string"
    )
    # a broadcast dictionary (the default) or shuffle joins: the same rows
    for broadcast_dict in (True, False):
        dest = tmp_path / f"remap_{broadcast_dict}"
        out = output(
            e,
            PatternGenerator.clique(3),
            str(dest),
            id_dict=id_dict,
            fmt="parquet",
            broadcast_dict=broadcast_dict,
        )
        rows = {tuple(r) for r in out.collect()}
        assert rows == {("a:x", "b:y", "c:z")}
        [written] = list(dest.iterdir())
        assert {tuple(r) for r in spark.read.parquet(str(written)).collect()} == rows


# --- packed-binary sink (the reference's output<BIN>, OutputManager.hh:80-91)


def test_bin_sink_byte_layout_and_roundtrip(spark, tmp_path):
    import numpy as np

    from peregrine_spark.graph.binfmt import read_matches_bin, write_matches_bin

    m = (
        spark.createDataFrame([(1, 2, 3), (4, 5, 6)], "v1 long, v2 long, v3 long")
        .coalesce(1)
        .sortWithinPartitions("v1")
    )
    n = write_matches_bin(m, tmp_path / "m")
    assert n == 2
    [f] = list((tmp_path / "m").glob("*.bin"))
    # the exact reference record layout: packed little-endian u32s,
    # no header, no delimiter (core/OutputManager.hh:80-91)
    assert f.read_bytes() == np.array([1, 2, 3, 4, 5, 6], dtype="<u4").tobytes()
    back = read_matches_bin(spark, tmp_path / "m", 3)
    assert sorted(map(tuple, back.collect())) == [(1, 2, 3), (4, 5, 6)]


def test_output_bin_matches_parquet(spark, tmp_path):
    from peregrine_spark.graph.binfmt import read_matches_bin

    e = edges_df(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    tri = PatternGenerator.clique(3)
    output(e, tri, str(tmp_path / "p"), fmt="parquet")
    output(e, tri, str(tmp_path / "b"), fmt="bin")
    [pdir] = list((tmp_path / "p").iterdir())
    [bdir] = list((tmp_path / "b").iterdir())
    pq = {tuple(r) for r in spark.read.parquet(str(pdir)).collect()}
    bn = {tuple(r) for r in read_matches_bin(spark, bdir, 3).collect()}
    assert bn == pq == {(1, 2, 3), (2, 3, 4)}


def test_output_bin_with_id_remap_and_overwrite(spark, tmp_path):
    from peregrine_spark.graph.binfmt import read_matches_bin

    e = edges_df(spark, [(1, 2), (1, 3), (2, 3)])
    # 4e9 exercises the top of the u32 range the reference's ids use
    id_dict = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 4_000_000_000)], "v long, key long"
    )
    out = tmp_path / "r"
    output(e, PatternGenerator.clique(3), str(out), id_dict=id_dict, fmt="bin")
    [bdir] = list(out.iterdir())
    back = read_matches_bin(spark, bdir, 3)
    assert sorted(tuple(sorted(r)) for r in back.collect()) == [
        (100, 200, 4_000_000_000)
    ]
    # overwrite semantics: a second write REPLACES the part files
    output(e, PatternGenerator.clique(3), str(out), id_dict=id_dict, fmt="bin")
    assert read_matches_bin(spark, bdir, 3).count() == 1


def test_bin_sink_rejects_wide_ids(spark, tmp_path):
    import pytest

    from peregrine_spark.graph.binfmt import write_matches_bin

    m = spark.createDataFrame([(1, 2, 5_000_000_000)], "v1 long, v2 long, v3 long")
    with pytest.raises(Exception, match="u32"):
        write_matches_bin(m, tmp_path / "wide")


def test_bin_sink_empty_matches(spark, tmp_path):
    from peregrine_spark.graph.binfmt import read_matches_bin, write_matches_bin

    m = spark.createDataFrame([], "v1 long, v2 long")
    assert write_matches_bin(m, tmp_path / "none") == 0
    assert read_matches_bin(spark, tmp_path / "none", 2).count() == 0
