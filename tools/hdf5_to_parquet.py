#!/usr/bin/env python3
"""heparchy HDF5 -> graft-hep Parquet store converter.

Implements the interchange contract in docs/hdf5-interchange.md: walk a
heparchy .h5 file (reference layout: jacanchaplais/heparchy
write/hdf.py:519-600, read/hdf.py:504-540) and emit the graft-hep store
directory (particles/edges/events/custom partitioned by (process, chunk),
a processes metadata table, and the _meta.json sidecar written LAST so
its presence marks a finalized store).

Run wherever h5py exists (it is not required for import — the layout
walk accepts any h5py-File-shaped mapping, which is how the offline test
fixture drives the same code path without native HDF5):

    python3 tools/hdf5_to_parquet.py showers.hdf5 /data/stores/showers

Requires: numpy, pyarrow (and h5py for real .h5 input).

Layout notes honored here:
  - chunk groups  "evt-set-{chunk:06d}"; event groups "evt-{idx:0{pad}d}"
    with pad = ceil(log10(evts_per_chunk))  (reference utils.py:7-14);
    the global event id is chunk * evts_per_chunk + idx.
  - the reference's process-metadata setters write to the CURRENT CHUNK
    group (write/hdf.py:465 writes to `self._grp`, which `new_event`
    rebinds to a chunk group) — so process attrs are collected from the
    process group AND every chunk group, chunk groups winning, and the
    conversion is tolerant of files written before/after that quirk.
  - the `final` mask is lifted to the `fin` column; other masks become
    the masks map (mirrors graft.hep.HepWriter:217-218).
  - per-event row-count invariant (all particle datasets equal length)
    is enforced BEFORE writing, like the reference's _set_num_pcls
    (write/hdf.py:268-282).
"""
import json
import math
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHUNK_RE = re.compile(r"^evt-set-(\d+)$")
EVT_RE = re.compile(r"^evt-(\d+)$")

PMU = pa.struct([("x", pa.float64()), ("y", pa.float64()),
                 ("z", pa.float64()), ("e", pa.float64())])
COLOR = pa.struct([("color", pa.int32()), ("anticolor", pa.int32())])

PARTICLES_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("idx", pa.int32()), ("pmu", PMU),
    ("pdg", pa.int32()), ("status", pa.int16()), ("helicity", pa.int16()),
    ("color", COLOR), ("fin", pa.bool_()),
    ("masks", pa.map_(pa.string(), pa.bool_()))])
EDGES_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("src", pa.int32()), ("dst", pa.int32()),
    ("weight", pa.float64())])
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("num_pcls", pa.int64()),
    ("custom_meta", pa.map_(pa.string(), pa.string()))])
CUSTOM_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("name", pa.string()),
    ("values", pa.list_(pa.float64())), ("dtype", pa.string()),
    ("values_long", pa.list_(pa.int64())),
    ("values_2d", pa.list_(pa.list_(pa.float64())))])
PROCESSES_SCHEMA = pa.schema([
    ("process", pa.string()), ("process_string", pa.string()),
    ("signal_pdgs", pa.list_(pa.int32())), ("com_e", pa.float64()),
    ("e_unit", pa.string()), ("num_evts", pa.int64()),
    ("custom_meta", pa.map_(pa.string(), pa.string())),
    ("in_pcls", pa.list_(pa.int32())), ("out_pcls", pa.list_(pa.int32()))])

# process-group attr names with first-class columns; everything else
# goes into custom_meta as a string (see _meta_str)
_PROC_ATTRS = {"process", "signal_pdgs", "com_e", "e_unit", "num_evts",
               "in_pcls", "out_pcls", "custom_meta_keys", "mask_keys",
               "custom_keys"}


def _is_group(node):
    return hasattr(node, "keys")


def _meta_str(value):
    """custom_meta value: strings pass through, the rest JSON-encodes."""
    if isinstance(value, str):
        return value
    if isinstance(value, bytes):
        return value.decode("utf-8")
    if isinstance(value, np.generic):
        value = value.item()
    if isinstance(value, np.ndarray):
        value = value.tolist()
    return json.dumps(value)


def _collect_process_attrs(proc_group):
    """Process metadata, tolerating the reference writer's wrong-group
    placement: chunk-group attrs override process-group attrs."""
    attrs = dict(proc_group.attrs)
    for name in sorted(proc_group.keys()):
        if CHUNK_RE.match(name) and _is_group(proc_group[name]):
            attrs.update(dict(proc_group[name].attrs))
    return attrs


def _event_rows(evt_group, event_id):
    """One event group -> (particle rows, edge rows, event row, custom
    rows). Enforces the equal-length particle-column invariant."""
    def arr(name):
        return np.asarray(evt_group[name]) if name in evt_group else None

    pmu, pdg = arr("pmu"), arr("pdg")
    status, helicity, color = arr("status"), arr("helicity"), arr("color")
    masks = {}
    if "masks" in evt_group and _is_group(evt_group["masks"]):
        for mname in sorted(evt_group["masks"].keys()):
            masks[mname] = np.asarray(evt_group["masks"][mname]).astype(bool)

    lengths = {name: len(a) for name, a in
               [("pmu", pmu), ("pdg", pdg), ("status", status),
                ("helicity", helicity), ("color", color)] if a is not None}
    lengths.update({f"masks/{k}": len(v) for k, v in masks.items()})
    distinct = set(lengths.values())
    if len(distinct) > 1:
        raise ValueError(
            f"event {event_id}: particle datasets disagree on length: "
            f"{lengths} (reference write/hdf.py:268-282 invariant)")
    n = distinct.pop() if distinct else 0

    fin = masks.pop("final", None)
    extra = sorted(masks.keys())
    pcl_rows = []
    for i in range(n):
        pcl_rows.append({
            "event_id": event_id, "idx": i,
            "pmu": {"x": float(pmu[i]["x"]), "y": float(pmu[i]["y"]),
                    "z": float(pmu[i]["z"]), "e": float(pmu[i]["e"])}
                   if pmu is not None else {"x": 0.0, "y": 0.0, "z": 0.0, "e": 0.0},
            "pdg": int(pdg[i]) if pdg is not None else 0,
            "status": int(status[i]) if status is not None else 0,
            "helicity": int(helicity[i]) if helicity is not None else 0,
            "color": {"color": int(color[i]["color"]),
                      "anticolor": int(color[i]["anticolor"])}
                     if color is not None else {"color": 0, "anticolor": 0},
            "fin": bool(fin[i]) if fin is not None else False,
            "masks": [(k, bool(masks[k][i])) for k in extra]})

    edge_rows = []
    edges, weights = arr("edges"), arr("edge_weights")
    if edges is not None:
        if weights is not None and len(weights) != len(edges):
            raise ValueError(
                f"event {event_id}: {len(edges)} edges vs "
                f"{len(weights)} weights (write/hdf.py:306-314 invariant)")
        for i in range(len(edges)):
            edge_rows.append({
                "event_id": event_id,
                "src": int(edges[i]["src"]), "dst": int(edges[i]["dst"]),
                "weight": float(weights[i]) if weights is not None else 1.0})

    evt_attrs = dict(evt_group.attrs)
    num_pcls = int(evt_attrs.get("num_pcls", n))
    meta_keys = [k for k in evt_attrs
                 if k not in ("num_pcls", "mask_keys", "custom_keys",
                              "custom_meta_keys")]
    event_row = {"event_id": event_id, "num_pcls": num_pcls,
                 "custom_meta": [(k, _meta_str(evt_attrs[k]))
                                 for k in sorted(meta_keys)]}

    custom_rows = []
    if "custom" in evt_group and _is_group(evt_group["custom"]):
        for cname in sorted(evt_group["custom"].keys()):
            data = np.asarray(evt_group["custom"][cname])
            row = {"event_id": event_id, "name": cname, "values": [],
                   "values_long": [], "values_2d": []}
            if data.ndim == 2:
                row["dtype"] = "f8_2d"
                row["values_2d"] = [[float(x) for x in r] for r in data]
            elif np.issubdtype(data.dtype, np.integer):
                row["dtype"] = "i8"
                row["values_long"] = [int(x) for x in data]
            else:
                row["dtype"] = "f8"
                row["values"] = [float(x) for x in data]
            custom_rows.append(row)

    return pcl_rows, edge_rows, event_row, custom_rows


def _write_partition(out_dir, table, process, chunk, rows, schema, codec):
    if not rows:
        return
    part = f"{out_dir}/{table}/process={process}/chunk={chunk}"
    import os
    os.makedirs(part, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   f"{part}/part-00000.parquet", compression=codec)


def convert(h5, out_dir, compression="zstd"):
    """Walk an h5py.File-shaped mapping and emit the graft-hep store."""
    file_attrs = dict(h5.attrs)
    epc = int(file_attrs.get("evts_per_chunk", 1000))
    pad = max(1, math.ceil(math.log10(epc))) if epc > 1 else 1

    proc_rows = []
    for pname in sorted(h5.keys()):
        proc = h5[pname]
        if not _is_group(proc):
            continue
        attrs = _collect_process_attrs(proc)
        num_evts = 0

        for cname in sorted(proc.keys()):
            m = CHUNK_RE.match(cname)
            if not m or not _is_group(proc[cname]):
                continue
            chunk_no = int(m.group(1))
            chunk = proc[cname]
            pcls, edges, events, customs = [], [], [], []
            for ename in sorted(chunk.keys()):
                em = EVT_RE.match(ename)
                if not em or not _is_group(chunk[ename]):
                    continue
                event_id = chunk_no * epc + int(em.group(1))
                p, e, ev, c = _event_rows(chunk[ename], event_id)
                pcls.extend(p)
                edges.extend(e)
                events.append(ev)
                customs.extend(c)
                num_evts += 1
            _write_partition(out_dir, "particles", pname, chunk_no, pcls,
                             PARTICLES_SCHEMA, compression)
            _write_partition(out_dir, "edges", pname, chunk_no, edges,
                             EDGES_SCHEMA, compression)
            _write_partition(out_dir, "events", pname, chunk_no, events,
                             EVENTS_SCHEMA, compression)
            _write_partition(out_dir, "custom", pname, chunk_no, customs,
                             CUSTOM_SCHEMA, compression)

        extra = [k for k in attrs if k not in _PROC_ATTRS]
        proc_rows.append({
            "process": pname,
            "process_string": _meta_str(attrs.get("process", "")),
            "signal_pdgs": [int(x) for x in
                            np.atleast_1d(attrs.get("signal_pdgs", []))],
            "com_e": float(attrs.get("com_e", 0.0)),
            "e_unit": _meta_str(attrs.get("e_unit", "")),
            "num_evts": int(attrs.get("num_evts", num_evts)),
            "custom_meta": [(k, _meta_str(attrs[k])) for k in sorted(extra)],
            "in_pcls": [int(x) for x in np.atleast_1d(attrs.get("in_pcls", []))],
            "out_pcls": [int(x) for x in np.atleast_1d(attrs.get("out_pcls", []))]})

    import os
    os.makedirs(f"{out_dir}/processes", exist_ok=True)
    pq.write_table(pa.Table.from_pylist(proc_rows, schema=PROCESSES_SCHEMA),
                   f"{out_dir}/processes/part-00000.parquet",
                   compression=compression)

    # sidecar LAST: its presence marks a finalized store (HepWriter.close).
    # Written under a hidden temp name and renamed, so a reader sees the
    # whole sidecar or none.
    tmp = f"{out_dir}/._meta.json.tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps({"layout": "graft-hep", "version": 1,
                            "evts_per_chunk": epc,
                            "compression": compression}))
    os.replace(tmp, f"{out_dir}/_meta.json")
    return pad  # exposed for tests


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    import h5py
    with h5py.File(argv[1], "r") as h5:
        convert(h5, argv[2])
    print(f"converted {argv[1]} -> {argv[2]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
