"""Star-tree v2 index — the reference's pre-aggregation structure, in
its on-disk binary format.

The reference builds one or more star-trees per segment
(StarTreeV2BuilderConfig: dimensionsSplitOrder, functionColumnPairs,
maxLeafRecords) and answers matching aggregation queries from the tree
instead of the raw docs. This module implements the PUBLIC format:

  - Tree file layout (StarTreeBuilderUtils.serializeTree:88-170,
    OffHeapStarTree.java:39-84, **little-endian**): magic
    0xBADDA55B00DAD00D (long) | version=1 (int) | header size (int) |
    numDimensions (int) | per dimension: dim index (int), name length
    (int), UTF-8 name | numNodes (int); then numNodes nodes of 7 ints
    each (OffHeapStarTreeNode.java:29-42): dimensionId, dimensionValue
    (dictId or ALL = -1), startDocId, endDocId (exclusive),
    aggregatedDocId, firstChildId, lastChildId — BFS order, children
    sorted by dimension value (star child ALL=-1 first).
  - Store layout (StarTreeV2Constants.java:29-38,
    StarTreeIndexMapUtils.java:37-63): one `star_tree_index` file per
    segment holding every tree's buffers back to back, and a
    `star_tree_index_map` properties file with
    `{treeId}.{column|null}.{STAR_TREE|FORWARD_INDEX}.{OFFSET|SIZE}`
    entries. Dimension forward indexes are bit-packed dictIds against
    the COLUMN's dictionary (star placeholder 0 —
    STAR_TREE_IN_FORWARD_INDEX) and metrics are raw chunk containers.
  - metadata.properties keys (StarTreeV2Constants.MetadataKey):
    `startree.v2.count` and per tree `startree.v2.{i}.total.docs` /
    `.split.order` / `.function.column.pairs` (e.g. `sum__revenue`,
    `count__*`) / `.max.leaf.records` / `.skip.star.node.creation`.
  - Build semantics (the single-tree builder): base records = segment
    rows aggregated by the full split-order dimension tuple, sorted;
    a node splitting on dimension d gets one child per distinct value
    plus a star child whose records drop d and re-aggregate; every
    multi-record node gets an aggregated record appended; nodes stop
    splitting at maxLeafRecords.

Queries traverse the tree: a filtered dimension follows its matching
child, an unconstrained grouped dimension fans out over the value
children, and any other dimension takes the star child — so the doc
ranges visited are disjoint and pre-aggregated. Parity operator:
`operators/startree.py` holds the Spark-side MV analog; this module is
the binary interop (trees built here load in a real deployment and
vice versa).
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

MAGIC = 0xBADDA55B00DAD00D
VERSION = 1
ALL = -1  # StarTreeNode.ALL
STAR_IN_FORWARD_INDEX = 0
INDEX_FILE = "star_tree_index"
INDEX_MAP_FILE = "star_tree_index_map"

_AGGS = (
    "sum",
    "count",
    "min",
    "max",
    "distinctcountthetasketch",
    "distinctcountbitmap",
)

# set-valued tree metrics: built as frozensets during construction,
# serialized per record (theta -> DataSketches compact bytes of hash
# sets; bitmap -> RoaringBitmap of raw int values, EXACT and
# cross-segment mergeable because values, not dictIds, are stored —
# the reference converts to value bitmaps for the merge too,
# DistinctCountBitmapAggregationFunction convertToValueSet)
_SET_FNS = ("distinctcountthetasketch", "distinctcountbitmap")

# nominalEntries for tree sketches (matches the rollup default,
# streaming/realtime.py:_THETA_ROLLUP_K; the reference's star-tree theta
# pairs size from StarTreeAggregationSpec — a build-time knob only)
_TREE_THETA_K = 4096


def _fset_union(series):
    """Pandas agg callable: union of frozensets of ds-hashes — the
    in-build representation of a theta sketch (exact until serialization
    trims at nominalEntries, the DataSketches rule)."""
    out: frozenset = frozenset()
    for v in series:
        out = out | v
    return out


def _pandas_agg(fn: str):
    if fn in ("sum", "count"):
        return "sum"
    if fn in ("min", "max"):
        return fn
    return _fset_union  # set-valued metrics (theta / bitmap)


@dataclass
class TreeNode:
    dimension_id: int
    dimension_value: int
    start_doc: int
    end_doc: int  # exclusive
    aggregated_doc: int = -1
    children: dict[int, "TreeNode"] | None = None


@dataclass
class StarTreeSpec:
    split_order: list[str]
    function_column_pairs: list[str]  # e.g. ["count__*", "sum__v"]
    max_leaf_records: int = 10_000
    skip_star_for: tuple[str, ...] = ()


def _parse_pair(pair: str) -> tuple[str, str]:
    fn, _, col = pair.partition("__")
    fn = fn.lower()
    if fn not in _AGGS:
        raise ValueError(f"unsupported function column pair {pair!r}")
    return fn, col


def build_star_tree(pdf, spec: StarTreeSpec):
    """Build records + tree from segment rows (pandas).

    Returns (records DataFrame with dim dictId columns + metric value
    columns, root TreeNode, num_nodes, per-dim dictionaries)."""
    import numpy as np
    import pandas as pd

    dims = spec.split_order
    pairs = [_parse_pair(p) for p in spec.function_column_pairs]
    # encode dims to dictIds against per-column sorted dictionaries
    dicts = {}
    enc = {}
    for d in dims:
        uniq, inverse = np.unique(pdf[d].to_numpy(), return_inverse=True)
        dicts[d] = uniq
        enc[d] = inverse.astype(np.int64)
    work = pd.DataFrame(enc)
    for fn, col in pairs:
        key = f"{fn}__{col}"
        if fn == "count":
            work[key] = np.int64(1)
        elif fn == "distinctcountthetasketch":
            # per-row singleton hash set; groupbys union them (exact
            # until serialization trims at nominalEntries)
            from hurricanedb_spark.operators.theta_ds import (
                canonical_bytes,
                ds_hash_bytes,
            )

            def row_set(v):
                if isinstance(v, (bytes, bytearray)):
                    # pre-aggregated sketch column (the reference's
                    # PreAggregated*StarTreeV2Test pattern / the BYTES
                    # type-dispatch): union the stored sketch's hashes
                    # instead of hashing the blob
                    from hurricanedb_spark.operators.theta_ds import (
                        deserialize,
                    )

                    return frozenset(deserialize(bytes(v)).hashes)
                b = canonical_bytes(v)
                if b is None:
                    return frozenset()
                h = ds_hash_bytes(b)
                return frozenset((h,)) if h else frozenset()

            work[key] = [row_set(v) for v in pdf[col]]
        elif fn == "distinctcountbitmap":
            arr = pdf[col].to_numpy()
            if arr.dtype.kind not in "iu":
                raise ValueError(
                    f"distinctCountBitmap star-tree pair needs an int "
                    f"column, got {arr.dtype} for {col!r}"
                )
            lo, hi = int(arr.min()), int(arr.max())
            if lo < -(2**31) or hi >= 2**31:
                raise ValueError(
                    f"distinctCountBitmap pair values exceed int32 "
                    f"({lo}..{hi}) for {col!r}"
                )
            # int32 values wrap into the uint32 roaring space the same
            # way on write and read — exactness preserved
            work[key] = [frozenset((int(v) & 0xFFFFFFFF,)) for v in arr]
        else:
            work[key] = pdf[col].to_numpy()

    def agg_frame(frame):
        return frame.groupby(dims, sort=True, as_index=False).agg(
            {f"{fn}__{col}": _pandas_agg(fn) for fn, col in pairs}
        )

    records = agg_frame(work).reset_index(drop=True)
    rows: list = [records]  # appended star/aggregated records
    total = [len(records)]

    metric_keys = [f"{fn}__{col}" for fn, col in pairs]

    frame_starts = [0]  # global offset of each frame in `rows`

    def append(frame) -> int:
        start = total[0]
        rows.append(frame.reset_index(drop=True))
        frame_starts.append(start)
        total[0] += len(frame)
        return start

    def slice_records(start: int, end: int):
        # a node's record range never spans frames: value children
        # subdivide their parent's range (one frame) and each star /
        # aggregated range is exactly one appended frame — so slicing
        # is O(1) in the owning frame, not a concat of everything
        import bisect

        fi = bisect.bisect_right(frame_starts, start) - 1
        base = frame_starts[fi]
        if end - base > len(rows[fi]):
            raise AssertionError("star-tree record range spans frames")
        return rows[fi].iloc[start - base : end - base]

    def aggregate_rows(frame, drop_dim: int | None):
        f = frame.copy()
        if drop_dim is not None:
            f[dims[drop_dim]] = ALL
        group_cols = dims
        gb = f.groupby(group_cols, sort=True, as_index=False)
        return gb.agg({k: _pandas_agg(k.partition("__")[0]) for k in metric_keys})

    num_nodes = [1]

    def construct(node: TreeNode, level: int):
        n = node.end_doc - node.start_doc
        if level == len(dims) or n <= spec.max_leaf_records:
            pass
        else:
            dim = dims[level]
            seg = slice_records(node.start_doc, node.end_doc)
            node.children = {}
            # value children: contiguous runs (records sorted by dims)
            vals = seg[dim].to_numpy()
            boundaries = [0] + [
                i for i in range(1, n) if vals[i] != vals[i - 1]
            ] + [n]
            for bi in range(len(boundaries) - 1):
                a, b = boundaries[bi], boundaries[bi + 1]
                child = TreeNode(
                    dimension_id=level,
                    dimension_value=int(vals[a]),
                    start_doc=node.start_doc + a,
                    end_doc=node.start_doc + b,
                )
                node.children[child.dimension_value] = child
                num_nodes[0] += 1
            # star child: drop this dim, re-aggregate, append records
            if dim not in spec.skip_star_for and len(node.children) > 1:
                star_records = aggregate_rows(seg, level)
                s = append(star_records)
                star = TreeNode(
                    dimension_id=level,
                    dimension_value=ALL,
                    start_doc=s,
                    end_doc=s + len(star_records),
                )
                node.children[ALL] = star
                num_nodes[0] += 1
            for child in node.children.values():
                construct(child, level + 1)
        # aggregated record for multi-record nodes
        if n == 1:
            node.aggregated_doc = node.start_doc
        else:
            seg = slice_records(node.start_doc, node.end_doc)
            agg = aggregate_rows(seg, None)
            # collapse to ONE record: all dims of the node's subtree vary,
            # so the aggregated record keeps the node path values and ALL
            # below — aggregate everything into a single row
            one = {}
            for d in dims:
                u = agg[d].unique()
                one[d] = int(u[0]) if len(u) == 1 else ALL
            for k in metric_keys:
                how = k.partition("__")[0]
                col = agg[k]
                if how in ("sum", "count"):
                    one[k] = col.sum()
                elif how == "min":
                    one[k] = col.min()
                elif how == "max":
                    one[k] = col.max()
                else:
                    one[k] = _fset_union(col)
            node.aggregated_doc = append(pd.DataFrame([one]))

    root = TreeNode(
        dimension_id=ALL, dimension_value=ALL, start_doc=0, end_doc=len(records)
    )
    construct(root, 0)
    all_records = pd.concat(rows, ignore_index=True)
    return all_records, root, num_nodes[0], dicts


def serialize_tree(root: TreeNode, dims: list[str], num_nodes: int) -> bytes:
    """Little-endian tree buffer per StarTreeBuilderUtils.serializeTree."""
    dim_section = []
    for i, d in enumerate(dims):
        b = d.encode("utf-8")
        dim_section.append(struct.pack("<ii", i, len(b)) + b)
    header_size = 8 + 4 + 4 + 4 + sum(len(x) for x in dim_section) + 4
    out = [
        struct.pack("<q", MAGIC - (1 << 64)),  # magic as signed long
        struct.pack("<i", VERSION),
        struct.pack("<i", header_size),
        struct.pack("<i", len(dims)),
        *dim_section,
        struct.pack("<i", num_nodes),
    ]
    # BFS with children sorted by dimension value (ALL=-1 first)
    queue = [root]
    order: list[TreeNode] = []
    first_child: dict[int, int] = {}
    last_child: dict[int, int] = {}
    next_id = 1
    idx = 0
    while idx < len(queue):
        node = queue[idx]
        order.append(node)
        if node.children:
            kids = [node.children[k] for k in sorted(node.children)]
            first_child[idx] = next_id
            last_child[idx] = next_id + len(kids) - 1
            queue.extend(kids)
            next_id += len(kids)
        idx += 1
    assert len(order) == num_nodes, (len(order), num_nodes)
    for i, node in enumerate(order):
        out.append(
            struct.pack(
                "<7i",
                node.dimension_id,
                node.dimension_value,
                node.start_doc,
                node.end_doc,
                node.aggregated_doc,
                first_child.get(i, -1),
                last_child.get(i, -1),
            )
        )
    return b"".join(out)


@dataclass
class LoadedTree:
    dims: list[str]
    nodes: list[tuple[int, int, int, int, int, int, int]]


def deserialize_tree(buf: bytes) -> LoadedTree:
    (magic,) = struct.unpack_from("<q", buf, 0)
    if magic & ((1 << 64) - 1) != MAGIC:
        raise ValueError(f"bad star-tree magic {magic:#x}")
    version, header_size, num_dims = struct.unpack_from("<iii", buf, 8)
    if version != VERSION:
        raise ValueError(f"unsupported star-tree version {version}")
    pos = 20
    names: dict[int, str] = {}
    for _ in range(num_dims):
        dim_id, nlen = struct.unpack_from("<ii", buf, pos)
        pos += 8
        names[dim_id] = buf[pos : pos + nlen].decode("utf-8")
        pos += nlen
    (num_nodes,) = struct.unpack_from("<i", buf, pos)
    pos += 4
    if pos != header_size:
        raise ValueError("star-tree header length mismatch")
    nodes = [
        struct.unpack_from("<7i", buf, header_size + 28 * i)
        for i in range(num_nodes)
    ]
    return LoadedTree(dims=[names[i] for i in range(num_dims)], nodes=nodes)


# ---------------------------------------------------------------------------
# store write / load


def write_star_trees(segment_dir: str, pdf, specs: list[StarTreeSpec]) -> None:
    """Build + persist star-trees for a segment dir (adds
    star_tree_index, star_tree_index_map, and metadata keys).

    `pdf` must hold the SAME rows the segment was written from: the
    tree's dimension forward indexes use the segment columns'
    dictionaries (dictIds are positions in the sorted distinct values),
    so the value sets must match."""
    import numpy as np

    from hurricanedb_spark.sources.pinot_segment import (
        _encode_raw_sv,
        _pack_dict_ids,
        _resolve_dir,
        bits_per_element,
    )

    d = _resolve_dir(segment_dir)
    blob_parts: list[bytes] = []
    map_lines: list[str] = []
    meta_lines: list[str] = [f"startree.v2.count = {len(specs)}"]
    offset = 0

    def add(tree_id: int, column: str | None, idx_type: str, payload: bytes):
        nonlocal offset
        col = column if column is not None else "null"
        map_lines.append(f"{tree_id}.{col}.{idx_type}.OFFSET = {offset}")
        map_lines.append(f"{tree_id}.{col}.{idx_type}.SIZE = {len(payload)}")
        blob_parts.append(payload)
        offset += len(payload)

    for tid, spec in enumerate(specs):
        records, root, num_nodes, dicts = build_star_tree(pdf, spec)
        add(tid, None, "STAR_TREE", serialize_tree(root, spec.split_order, num_nodes))
        for dim in spec.split_order:
            bits = bits_per_element(len(dicts[dim]))
            ids = records[dim].to_numpy().copy()
            ids[ids == ALL] = STAR_IN_FORWARD_INDEX  # star placeholder
            add(tid, dim, "FORWARD_INDEX", _pack_dict_ids(ids, bits))
        for pair in spec.function_column_pairs:
            fn, col = _parse_pair(pair)
            key = f"{fn}__{col}"
            if fn == "distinctcountthetasketch":
                # serialize each record's hash set as a DataSketches
                # compact sketch (BYTES metric, like the reference's
                # theta star-trees — StarTreeV2 serializes the
                # ValueAggregator's byte form per record)
                from hurricanedb_spark.operators.theta_ds import (
                    compute_seed_hash,
                    from_hashes,
                    serialize as theta_serialize,
                )

                sh = compute_seed_hash(9001)
                payload = _encode_raw_sv(
                    [
                        theta_serialize(from_hashes(fs, _TREE_THETA_K, sh))
                        for fs in records[key]
                    ],
                    "BYTES",
                    "PASS_THROUGH",
                )
                add(tid, pair, "FORWARD_INDEX", payload)
                continue
            if fn == "distinctcountbitmap":
                from hurricanedb_spark.sources.pinot_segment import (
                    roaring_serialize,
                )

                add(
                    tid,
                    pair,
                    "FORWARD_INDEX",
                    _encode_raw_sv(
                        [roaring_serialize(fs) for fs in records[key]],
                        "BYTES",
                        "PASS_THROUGH",
                    ),
                )
                continue
            vals = records[key].to_numpy()
            data_type = "LONG" if vals.dtype.kind in "iu" else "DOUBLE"
            vals = vals.astype(np.int64 if data_type == "LONG" else np.float64)
            add(tid, pair, "FORWARD_INDEX", _encode_raw_sv(vals, data_type, "PASS_THROUGH"))
        prefix = f"startree.v2.{tid}"
        meta_lines += [
            f"{prefix}.total.docs = {len(records)}",
            f"{prefix}.split.order = " + ",".join(spec.split_order),
            f"{prefix}.function.column.pairs = " + ",".join(spec.function_column_pairs),
            f"{prefix}.max.leaf.records = {spec.max_leaf_records}",
        ]
        if spec.skip_star_for:
            meta_lines.append(
                f"{prefix}.skip.star.node.creation = " + ",".join(spec.skip_star_for)
            )

    with open(os.path.join(d, INDEX_FILE), "wb") as f:
        f.write(b"".join(blob_parts))
    with open(os.path.join(d, INDEX_MAP_FILE), "w", encoding="utf-8") as f:
        f.write("\n".join(map_lines) + "\n")
    with open(os.path.join(d, "metadata.properties"), "a", encoding="utf-8") as f:
        f.write("\n".join(meta_lines) + "\n")


def load_star_tree(segment_dir: str, tree_id: int = 0):
    """-> (LoadedTree, records DataFrame, spec) from the on-disk store."""
    import numpy as np
    import pandas as pd

    from hurricanedb_spark.sources.pinot_segment import (
        ColumnMeta,
        _decode_raw_sv,
        _unpack_dict_ids,
        _resolve_dir,
        bits_per_element,
        parse_properties,
        read_segment_metadata,
    )

    seg_meta = read_segment_metadata(segment_dir)
    d = _resolve_dir(segment_dir)
    props = seg_meta.props
    prefix = f"startree.v2.{tree_id}"
    total_docs = int(props[f"{prefix}.total.docs"][0])
    split_order = props[f"{prefix}.split.order"][0].split(",")
    pairs = props[f"{prefix}.function.column.pairs"][0].split(",")
    max_leaf = int(props[f"{prefix}.max.leaf.records"][0])
    skip = tuple(
        x
        for x in (props.get(f"{prefix}.skip.star.node.creation") or [""])[0].split(",")
        if x
    )
    with open(os.path.join(d, INDEX_MAP_FILE), encoding="utf-8") as f:
        imap_raw = parse_properties(f.read())
    entries: dict[tuple[str, str], dict[str, int]] = {}
    for key, vals in imap_raw.items():
        tid_s, rest = key.split(".", 1)
        if int(tid_s) != tree_id:
            continue
        body, _, suffix = rest.rpartition(".")  # suffix = OFFSET | SIZE
        col, _, idx_type = body.rpartition(".")  # idx types contain no '.'
        entries.setdefault((col, idx_type), {})[suffix] = int(vals[0])
    with open(os.path.join(d, INDEX_FILE), "rb") as f:
        blob = f.read()

    def buf(col: str, idx_type: str) -> bytes:
        e = entries[(col, idx_type)]
        return blob[e["OFFSET"] : e["OFFSET"] + e["SIZE"]]

    tree = deserialize_tree(buf("null", "STAR_TREE"))
    data = {}
    for dim in split_order:
        cm = seg_meta.columns[dim]
        bits = bits_per_element(cm.cardinality)
        data[dim] = _unpack_dict_ids(buf(dim, "FORWARD_INDEX"), total_docs, bits)
    for pair in pairs:
        fn, col = _parse_pair(pair)
        raw = buf(pair, "FORWARD_INDEX")
        # metric type: counts are LONG; theta pairs are serialized
        # sketches (BYTES); otherwise follow the source column's type
        # (int-family -> LONG, float-family -> DOUBLE)
        if fn in _SET_FNS:
            dt = "BYTES"
        elif fn == "count" or (
            col in seg_meta.columns
            and seg_meta.columns[col].data_type in ("INT", "LONG")
        ):
            dt = "LONG"
        else:
            dt = "DOUBLE"
        cm = ColumnMeta(
            name=pair, data_type=dt, cardinality=0, total_docs=total_docs,
            bits_per_element=0, dictionary_element_size=8,
            is_sorted=False, has_dictionary=False, is_single_value=True,
        )
        data[pair] = _decode_raw_sv(raw, cm, total_docs)
    records = pd.DataFrame(data)
    spec = StarTreeSpec(split_order, pairs, max_leaf, skip)
    return tree, records, spec


def star_tree_aggregate(
    segment_dir: str,
    group_by: list[str],
    metrics: list[str],
    where: tuple | None = None,
    tree_id: int = 0,
):
    """Answer a group-by aggregation from the star-tree: filtered dims
    follow their matching child, grouped dims fan out, everything else
    takes the star child. Returns pandas with dictId group keys +
    aggregated metrics (keys decode via the segment dictionaries)."""
    import pandas as pd

    tree, records, spec = load_star_tree(segment_dir, tree_id)
    dims = tree.dims
    want = set(group_by) | ({where[0]} if where else set())
    if not want <= set(dims):
        raise ValueError(f"dims {want - set(dims)} not in split order {dims}")
    if where and where[1] not in ("=", "in"):
        raise ValueError("star-tree path answers equality / IN filters only")
    filt: dict[str, set[int]] = {}
    if where:
        # map filter value(s) to dictIds via the segment dictionary
        from hurricanedb_spark.sources.pinot_segment import (
            _decode_dictionary,
            _read_psf,
            read_segment_metadata,
        )

        from hurricanedb_spark.sources.pinot_segment import _index_buffer

        meta = read_segment_metadata(segment_dir)
        psf = _read_psf(meta)
        col = where[0]
        dvals = list(
            _decode_dictionary(
                _index_buffer(meta, psf, col, "dictionary"), meta.columns[col]
            )
        )
        wanted = where[2] if where[1] == "in" else [where[2]]
        ids = {dvals.index(v) for v in wanted if v in dvals}
        if not ids:
            return pd.DataFrame(columns=[*group_by, *metrics])
        filt[col] = ids

    collected = _collect_docs(tree, records, want, filt)
    sub = records.iloc[collected]
    gb = sub.groupby(group_by, as_index=False) if group_by else sub
    aggs = {m: _loaded_metric_agg(m.partition("__")[0]) for m in metrics}
    if group_by:
        return gb.agg(aggs).reset_index(drop=True)
    return pd.DataFrame([{m: sub[m].agg(a) for m, a in aggs.items()}])


def _loaded_metric_agg(fn: str):
    """Pandas agg callable/name for LOADED tree records (set-valued
    metrics arrive as serialized bytes)."""
    if fn == "distinctcountthetasketch":
        return _bytes_sketch_union
    if fn == "distinctcountbitmap":
        return _bytes_bitmap_union
    return {"sum": "sum", "count": "sum", "min": "min", "max": "max"}[fn]


def _bytes_sketch_union(series):
    """Pandas agg over SERIALIZED sketches (the loaded tree's theta
    metric records): deserialize, union, re-serialize."""
    from hurricanedb_spark.operators.theta_ds import (
        deserialize,
        serialize,
        union,
    )

    sks = [deserialize(bytes(b)) for b in series]
    return serialize(union(sks, k=_TREE_THETA_K))


def _bytes_bitmap_union(series):
    """Pandas agg over SERIALIZED RoaringBitmaps: union, re-serialize —
    EXACT (value bitmaps merge across segments losslessly)."""
    from hurricanedb_spark.sources.pinot_segment import (
        roaring_deserialize,
        roaring_serialize,
    )

    out: set[int] = set()
    for b in series:
        out.update(int(v) for v in roaring_deserialize(bytes(b)))
    return roaring_serialize(out)


def _collect_docs(
    tree: LoadedTree, records, want: set[str], filt: dict[str, set[int]]
) -> list[int]:
    """Tree traversal core: filtered dims follow matching value
    children, grouped dims fan out, everything else takes the star
    child; leaves scan their record range with the residual dictId
    filter. Returns sorted record indices whose union is exactly the
    (pre-aggregated) answer set — disjoint ranges by construction."""
    dims = tree.dims
    collected: list[int] = []

    def descend(node_id: int, level: int):
        dim_id, dim_val, start, end, agg_doc, first, last = tree.nodes[node_id]
        # does any dim at or below this level matter?
        relevant = any(
            dims[i] in want for i in range(level, len(dims))
        )
        if not relevant:
            collected.append(agg_doc)
            return
        if first == -1:  # leaf: scan its record range with residual filter
            for doc in range(start, end):
                ok = True
                for fcol, fv in filt.items():
                    if records[fcol].iloc[doc] not in fv:
                        ok = False
                        break
                if ok:
                    collected.append(doc)
            return
        child_dim = dims[tree.nodes[first][0]]
        child_ids = range(first, last + 1)
        if child_dim in filt:
            fv = filt[child_dim]
            for cid in child_ids:
                if tree.nodes[cid][1] in fv:
                    descend(cid, level + 1)
            return  # only matching value children contribute
        if child_dim in want:
            for cid in child_ids:
                if tree.nodes[cid][1] != ALL:
                    descend(cid, level + 1)
            return
        # unconstrained: prefer the star child
        for cid in child_ids:
            if tree.nodes[cid][1] == ALL:
                descend(cid, level + 1)
                return
        for cid in child_ids:
            descend(cid, level + 1)

    descend(0, 0)
    return sorted(set(collected))




# ---------------------------------------------------------------------------
# SQL redirect support: per-segment fit check + distributed pre-agg scan


def pair_out_col(pair: str) -> str:
    """Output column name for a function-column pair in the accelerated
    pre-agg frame: count__* -> __st_count_star, sum__x -> __st_sum_x."""
    fn, col = _parse_pair(pair)
    return f"__st_{fn}_star" if col == "*" else f"__st_{fn}_{col}"


def fitting_tree_id(
    segment_dir: str,
    group_cols: list[str],
    pairs: list[str],
    filter_cols: list[str],
) -> int | None:
    """The reference's isFitForStarTree check
    (pinot-core/.../startree/StarTreeUtils.java:144): a tree fits when
    every group-by and predicate dimension is in its split order and
    every aggregation is among its function-column pairs. Additionally
    (reader-side soundness): no involved column may carry a null-value
    vector — the tree was built from stored (default-filled) values
    while the scan path restores NULLs, so such segments must take the
    scan fallback for exact SQL null semantics — and the segment may
    carry no upsert valid-docId snapshot: the tree aggregates every doc,
    while the fallback's decode keeps only the valid ones. Returns the
    first fitting tree id or None."""
    from hurricanedb_spark.sources.pinot_segment import (
        VALID_DOC_IDS_FILE,
        read_segment_metadata,
    )

    meta = read_segment_metadata(segment_dir)
    props = meta.props
    count = int((props.get("startree.v2.count") or ["0"])[0])
    if not count or os.path.isfile(os.path.join(meta.segment_dir, VALID_DOC_IDS_FILE)):
        return None
    parsed_pairs = [_parse_pair(p) for p in pairs]
    metric_cols = [c for _, c in parsed_pairs if c != "*"]
    # theta pairs hash values of ANY type; numeric requirement applies
    # to the sum/min/max family only
    numeric_cols = [
        c
        for fn, c in parsed_pairs
        if c != "*" and fn != "distinctcountthetasketch"
    ]
    for col in {*group_cols, *filter_cols, *metric_cols}:
        if col not in meta.columns:
            return None
        if (col, "nullvalue_vector") in meta.index_map:
            return None
        if col in numeric_cols and meta.columns[col].data_type not in (
            "INT",
            "LONG",
            "FLOAT",
            "DOUBLE",
        ):
            return None
    need_dims = set(group_cols) | set(filter_cols)
    for tid in range(count):
        split = props[f"startree.v2.{tid}.split.order"][0].split(",")
        fps = set(props[f"startree.v2.{tid}.function.column.pairs"][0].split(","))
        if need_dims <= set(split) and set(pairs) <= fps:
            return tid
    return None


def _segment_dictionary(segment_dir: str, col: str) -> list:
    from hurricanedb_spark.sources.pinot_segment import (
        _decode_dictionary,
        _index_buffer,
        _read_psf,
        read_segment_metadata,
    )

    meta = read_segment_metadata(segment_dir)
    psf = _read_psf(meta)
    return list(
        _decode_dictionary(_index_buffer(meta, psf, col, "dictionary"), meta.columns[col])
    )


def star_tree_visit_pandas(
    segment_dir: str,
    tree_id: int,
    key_cols: list[str],
    pairs: list[str],
):
    """Traverse one segment's star-tree and return its contribution as
    a pre-aggregated pandas frame: decoded key columns (group-by +
    predicate dims — always concrete values, never the star
    placeholder, because wanted dims fan out over value children) plus
    one metric column per pair (pair_out_col names). The caller's
    predicates re-apply on the returned keys."""
    import pandas as pd

    tree, records, _spec = load_star_tree(segment_dir, tree_id)
    sub = records.iloc[_collect_docs(tree, records, set(key_cols), {})]
    aggs = {p: _loaded_metric_agg(_parse_pair(p)[0]) for p in pairs}
    if key_cols:
        out = sub.groupby(key_cols, as_index=False, sort=False).agg(aggs)
    else:
        out = pd.DataFrame([{p: sub[p].agg(a) for p, a in aggs.items()}])
    for col in key_cols:  # dictIds -> values via the column dictionary
        lut = _segment_dictionary(segment_dir, col)
        out[col] = out[col].map(lambda i: lut[i])
    return out.rename(columns={p: pair_out_col(p) for p in pairs})[
        [*key_cols, *[pair_out_col(p) for p in pairs]]
    ]


def _segment_prearg_fallback_pandas(
    segment_dir: str,
    key_cols: list[str],
    pairs: list[str],
):
    """Raw-scan fallback for a segment without a fitting tree: decode
    the needed columns and emit the SAME pre-agg frame shape the tree
    path emits (count -> 1 per doc, sum/min/max -> the doc value), so
    the union re-aggregates exactly.
    Mirrors the reference's per-segment plan choice: each segment
    independently answers from its tree or scans
    (AggregationPlanNode.java)."""
    import numpy as np
    import pandas as pd

    from hurricanedb_spark.sources.pinot_segment import read_segment_pandas

    parsed = [_parse_pair(p) for p in pairs]
    metric_cols = [c for _, c in parsed if c != "*"]
    base_cols = list(dict.fromkeys([*key_cols, *metric_cols]))
    pdf = read_segment_pandas(segment_dir, base_cols or None)
    out = pdf[key_cols].copy() if key_cols else pd.DataFrame(index=pdf.index)
    for (fn, col), pair in zip(parsed, pairs):
        name = pair_out_col(pair)
        if fn == "count":
            out[name] = np.int64(1)
        elif fn in _SET_FNS:
            # raw values; the groupby below builds one serialized sketch
            # / bitmap per group — the SAME representation the tree path
            # emits
            out[name] = pdf[col].to_numpy()
        else:
            src = pdf[col]
            out[name] = (
                src.astype(np.int64)
                if src.dtype.kind in "iu"
                else src.astype(np.float64)
            )

    def _raw_sketch_bytes(series):
        from hurricanedb_spark.operators.theta_ds import (
            build_sketch,
            serialize as theta_serialize,
        )

        return theta_serialize(build_sketch(series.tolist(), k=_TREE_THETA_K))

    def _raw_bitmap_bytes(series):
        from hurricanedb_spark.sources.pinot_segment import roaring_serialize

        return roaring_serialize(
            {int(v) & 0xFFFFFFFF for v in series.tolist()}
        )

    def _fallback_agg(fn: str):
        if fn == "distinctcountthetasketch":
            return _raw_sketch_bytes
        if fn == "distinctcountbitmap":
            return _raw_bitmap_bytes
        return {"sum": "sum", "count": "sum", "min": "min", "max": "max"}[fn]

    aggs = {pair_out_col(p): _fallback_agg(_parse_pair(p)[0]) for p in pairs}
    if key_cols:
        return out.groupby(key_cols, as_index=False, sort=False).agg(aggs)
    if not len(out):
        return out.iloc[0:0]
    return pd.DataFrame([{k: out[k].agg(a) for k, a in aggs.items()}])


def read_segments_star_tree(
    spark,
    segment_dirs: list[str],
    key_cols: list[str],
    pairs: list[str],
):
    """Distributed star-tree pre-agg scan over a segment store, in at
    most min(#segments, defaultParallelism) tasks, fewer on a store
    under that many Arrow batches of rows (`map_segments`, the
    reference's CombineOperatorUtils pool); per segment, its task
    answers from the segment's FITTING tree (fitting_tree_id) or falls
    back to a raw scan of that segment — both emit the same (key
    columns + __st_* metric columns) pre-agg shape, and Spark's
    partial/final HashAggregate re-aggregates the union. This is the
    scale shape: tree records are tiny (pre-aggregated), the union never
    materializes on the driver, and the final group-by shuffles only
    pre-aggregated rows."""
    from hurricanedb_spark.sources.pinot_segment import map_segments

    scan = _star_tree_scan(key_cols, pairs)
    return map_segments(
        spark,
        [(s,) for s in segment_dirs],
        lambda p: scan(p[0]),
        _star_tree_schema(segment_dirs[0], key_cols, pairs),
    )


def star_tree_view(
    spark, segment_dirs: list[str], key_cols: list[str], pairs: list[str]
):
    """`session_view` over the star-tree pre-agg scan of `key_cols` and
    `pairs`: the pre-agg rows are decoded once per session and version,
    and the caller's WHERE re-applies on the view (`key_cols` holds its
    columns)."""
    from hurricanedb_spark.sources.pinot_segment import map_segments, session_view

    scan = _star_tree_scan(key_cols, pairs)

    def build(plans):
        schema = _star_tree_schema(segment_dirs[0], key_cols, pairs)
        return map_segments(spark, plans, lambda p: scan(p[0]), schema)

    key = ("st_accel", tuple(segment_dirs), tuple(key_cols), tuple(pairs))
    return session_view(spark, key, segment_dirs, build)


def _star_tree_scan(key_cols: list[str], pairs: list[str]):
    """segment dir -> its pre-agg rows, from the fitting tree or a raw scan."""

    def scan(seg):
        tid = fitting_tree_id(seg, key_cols, pairs, [])
        if tid is not None:
            return star_tree_visit_pandas(seg, tid, key_cols, pairs)
        return _segment_prearg_fallback_pandas(seg, key_cols, pairs)

    return scan


def _star_tree_schema(segment_dir: str, key_cols: list[str], pairs: list[str]) -> str:
    """DDL of the pre-agg rows: the key columns, then one column a pair."""
    from hurricanedb_spark.sources.pinot_segment import (
        read_segment_metadata,
        segment_spark_schema,
    )

    meta0 = read_segment_metadata(segment_dir)
    parts = []
    if key_cols:
        parts = [segment_spark_schema(segment_dir, key_cols)]
    for p in pairs:
        fn, col = _parse_pair(p)
        if fn in _SET_FNS:
            t = "binary"  # serialized sketch / bitmap per pre-agg row
        elif fn == "count" or (
            col in meta0.columns and meta0.columns[col].data_type in ("INT", "LONG")
        ):
            t = "bigint"
        else:
            t = "double"
        parts.append(f"`{pair_out_col(p)}` {t}")
    return ", ".join(parts)
