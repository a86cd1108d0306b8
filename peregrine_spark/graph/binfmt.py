"""Reference binary data-graph format + pattern-string notation.

Loader for the reference engine's on-disk graph directories
(core/DataGraph.cc:64-154):

* ``data.bin``   — u32 |V|, u64 |E| (little-endian), then per vertex
  ``i = 0..|V|-1`` (vertex id ``i+1``): u32 degree, degree x u32 neighbour
  ids (1-based). Adjacency stores BOTH directions, so the degree sum is
  2|E|.
* ``labels.bin`` — |V| pairs of u32 (vertex id, label)
  (core/DataGraph.cc:105-126).
* ``ids.bin``    — |V| u32s: original key of renumbered vertex ``i``
  (core/DataGraph.cc:128-143) — only needed to remap match output.

The parse is driver-side numpy: the format is a single sequential binary
file (inherently one-reader). For parity validation against the
reference's committed datasets (citeseer: 3,264 vertices / 4,536 edges)
driver-side is exactly right.

Also here: the reference's human-readable pattern-string notation
(core/Graph.hh:188-243) used by its committed truth files
(core/integrationtests/truth/*.txt): ``[u-v]`` true edge, ``(u~v)``
anti-edge, labelled variants ``[u,lu-v,lv]`` / ``(u,lu~v,lv)``.
"""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from peregrine_spark.patterns.small_graph import SmallGraph


def read_bin_graph(path: str | Path) -> tuple[np.ndarray, np.ndarray | None, np.ndarray | None]:
    """Parse a reference graph directory into numpy arrays.

    Returns (edges, labels, ids):
      edges  — (E, 2) int64, canonical src < dst, deduped, 1-based ids;
      labels — (V, 2) int64 (vertex, label) or None if no labels.bin;
      ids    — (V,) original keys indexed by vertex-1, or None.
    """
    path = Path(path)
    raw = np.fromfile(path / "data.bin", dtype="<u4")
    v_count = int(raw[0])
    e_count = int(raw[1]) | (int(raw[2]) << 32)  # u64 as two LE u32 words
    body = raw[3:]
    # sequential walk over the degree-prefixed adjacency blocks; the loop is
    # O(|V|) driver-side python — fine for reference-format graphs, and the
    # neighbour slices themselves stay vectorized
    src_parts: list[np.ndarray] = []
    dst_parts: list[np.ndarray] = []
    cursor = 0
    for i in range(v_count):
        d = int(body[cursor])
        nbrs = body[cursor + 1 : cursor + 1 + d]
        src_parts.append(np.full(d, i + 1, dtype=np.int64))
        dst_parts.append(nbrs.astype(np.int64))
        cursor += 1 + d
    src = np.concatenate(src_parts)
    dst = np.concatenate(dst_parts)
    keep = src < dst  # adjacency is bidirectional: keep one direction
    edges = np.stack([src[keep], dst[keep]], axis=1)
    edges = np.unique(edges, axis=0)
    if len(edges) != e_count:
        raise ValueError(
            f"edge count mismatch: header says {e_count}, parsed {len(edges)}"
        )

    labels = None
    lab_path = path / "labels.bin"
    if lab_path.exists():
        labels = np.fromfile(lab_path, dtype="<u4").reshape(-1, 2).astype(np.int64)

    ids = None
    ids_path = path / "ids.bin"
    if ids_path.exists():
        ids = np.fromfile(ids_path, dtype="<u4").astype(np.int64)
    return edges, labels, ids


def load_bin_graph(
    spark: SparkSession, path: str | Path, with_ids: bool = False
) -> tuple[DataFrame, DataFrame | None] | tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """Reference graph directory → (edges, vertices) DataFrames.

    edges: (src, dst) long, canonical src < dst — the engine's ingest
    invariant. The reference already renumbers vertices degree-descending
    at convert time (core/DataConverter.cc:283-304), so the ids come out
    matching our own ``relabel_by_degree`` convention and pattern queries
    run on them directly. vertices: (v, label) or None.

    ``with_ids=True`` additionally returns the ids.bin dictionary as a
    (v, key) DataFrame (or None when the directory has no ids.bin) — the
    input to ``operators.match.output(..., id_dict=...)``, which remaps
    match output back to the graph's ORIGINAL vertex ids exactly like the
    reference's sink does (core/OutputManager.hh:130-143)."""
    edges_np, labels_np, ids_np = read_bin_graph(path)
    n = max(spark.sparkContext.defaultParallelism, 8)
    edges = spark.createDataFrame(
        edges_np.tolist(), "src long, dst long"
    ).repartition(n)
    vertices = None
    if labels_np is not None:
        vertices = spark.createDataFrame(labels_np.tolist(), "v long, label long")
    if not with_ids:
        return edges, vertices
    id_dict = None
    if ids_np is not None:
        id_dict = spark.createDataFrame(
            [(i + 1, int(k)) for i, k in enumerate(ids_np)], "v long, key long"
        )
    return edges, vertices, id_dict


def write_matches_bin(matches: DataFrame, dest: str | Path) -> int:
    """Packed-binary match sink — byte-compatible with the reference's
    ``output<BIN>`` record layout (core/OutputManager.hh:80-91): each match
    is ``num_vertices`` little-endian u32s, records concatenated with no
    header or delimiter.  One file per write partition, mirroring the
    reference's one file per worker thread (core/OutputManager.hh:59-75);
    ``dest`` must be a filesystem every executor can reach, exactly like
    the reference's shared output root.

    All columns must be integers that fit u32 (the reference's vertex id
    type); the kernel raises on overflow or negatives rather than silently
    truncating.  Returns the number of matches written."""
    dest = Path(dest)
    dest.mkdir(parents=True, exist_ok=True)
    for stale in dest.glob("*.bin"):  # overwrite semantics, like the
        stale.unlink()  # parquet/csv sinks (the reference O_TRUNCs per file)
    cols = list(matches.columns)
    dest_str = str(dest)

    def pack(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        fh = None
        try:
            for pdf in batches:
                if pdf.empty:
                    continue
                arr = pdf[cols].to_numpy(dtype=np.int64)
                if arr.min() < 0 or arr.max() > 0xFFFFFFFF:
                    raise ValueError(
                        "match vertex id outside u32 — the reference's BIN "
                        "record type (core/OutputManager.hh:80-91); use the "
                        "parquet sink for wider keys"
                    )
                if fh is None:  # lazy: empty partitions leave no file
                    fh = open(f"{dest_str}/part-{pid:05d}.bin", "wb")
                fh.write(arr.astype("<u4").tobytes())
                n += len(pdf)
        finally:
            if fh is not None:
                fh.close()
        yield pd.DataFrame({"n": [n]})

    counts = matches.mapInPandas(pack, "n long")
    return sum(r.n for r in counts.collect())


def read_matches_bin(
    spark: SparkSession, path: str | Path, num_vertices: int
) -> DataFrame:
    """Distributed read of a packed-binary match directory back into a
    (v1..vk long) DataFrame.  Each part file becomes one ``binaryFile``
    row unpacked by an Arrow-batched kernel — file sizes are bounded by
    the writer's per-partition sizing, so no single row is unbounded."""
    k = int(num_vertices)
    schema = ", ".join(f"v{i + 1} long" for i in range(k))
    files = sorted(Path(path).glob("*.bin"))
    if not files:
        return spark.createDataFrame([], schema)
    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(path))
        .select("content")
    )

    def unpack(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                arr = np.frombuffer(content, dtype="<u4")
                if arr.size % k:
                    raise ValueError(
                        f"corrupt BIN match file: {arr.size} u32s is not a "
                        f"multiple of the {k}-vertex record width"
                    )
                mat = arr.reshape(-1, k).astype(np.int64)
                yield pd.DataFrame(
                    {f"v{i + 1}": mat[:, i] for i in range(k)}
                )

    return src.mapInPandas(unpack, schema)


_EDGE_RE = re.compile(r"([\[\(])\s*([0-9]+)(?:,(-?[0-9]+))?[-~]([0-9]+)(?:,(-?[0-9]+))?[\]\)]")


def pattern_from_string(s: str) -> SmallGraph:
    """Parse the reference's pattern-string notation (core/Graph.hh:188-243;
    parse mirror core/TestCommon.hh:4-80): ``[u-v]`` edge, ``(u~v)``
    anti-edge, ``[u,lu-v,lv]`` / ``(u,lu~v,lv)`` labelled forms."""
    g = SmallGraph()
    matched_len = 0
    for m in _EDGE_RE.finditer(s):
        matched_len += len(m.group(0))
        bracket, u, lu, v, lv = m.groups()
        u, v = int(u), int(v)
        if bracket == "[":
            g.add_edge(u, v)
        else:
            g.add_anti_edge(u, v)
        if lu is not None:
            g.set_label(u, int(lu))
        if lv is not None:
            g.set_label(v, int(lv))
    if matched_len != len(s.replace(" ", "")):
        raise ValueError(f"unparsed pattern text in {s!r}")
    return g


def read_truth_file(path: str | Path) -> list[tuple[SmallGraph, int]]:
    """Parse a reference truth file (core/integrationtests/truth/*.txt):
    one ``<pattern-string> <count>`` per line."""
    out = []
    for line in Path(path).read_text().splitlines():
        line = line.strip()
        if not line:
            continue
        pat_s, cnt_s = line.rsplit(None, 1)
        out.append((pattern_from_string(pat_s), int(cnt_s)))
    return out
