"""Independent Delta-log writer/reader for interop testing.

delta-spark itself is not installable in this sandbox (no network), so
true JVM-generated golden logs cannot be committed. This module is the
next-best evidence, in both directions:

- **foreign → us**: a from-scratch mini WRITER (json/struct/zlib/
  pyarrow only — zero jodie_spark code) fabricates ``_delta_log``s
  shaped exactly like real delta-spark output — ``engineInfo`` /
  ``txnId`` commitInfo fields, ``part-00000-<uuid>-c000.snappy.parquet``
  file naming, stats JSON strings, Hive partition dirs, 'u'-storage
  deletion vectors with base85 uuid refs, legacy column-mapping
  metadata, classic checkpoints + ``_last_checkpoint`` — which the
  engine must read correctly (tests/test_interop.py).
- **us → foreign**: a from-scratch mini READER reconstructs table
  state from a ``_delta_log`` per PROTOCOL.md (last add per path minus
  removes, newest metaData/protocol) and materializes rows with duckdb
  — run against tables jodie_spark WRITES, proving they parse without
  any jodie_spark code in the loop.

Every byte layout here is transcribed from the public spec
(delta.io PROTOCOL.md); field spellings match delta-spark 3.x output.
"""

from __future__ import annotations

import json
import os
import struct
import uuid
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# mini writer
# ---------------------------------------------------------------------------


def part_name(i: int = 0) -> str:
    return f"part-{i:05d}-{uuid.uuid4()}-c000.snappy.parquet"


def commit_info(operation: str, params: dict, metrics: dict | None = None) -> dict:
    """The commitInfo shape delta-spark 3.x writes."""
    return {
        "commitInfo": {
            "timestamp": 1700000000000,
            "operation": operation,
            "operationParameters": params,
            "isolationLevel": "Serializable",
            "isBlindAppend": operation == "WRITE",
            "operationMetrics": metrics or {},
            "engineInfo": "Apache-Spark/3.5.1 Delta-Lake/3.2.0",
            "txnId": str(uuid.uuid4()),
        }
    }


def schema_string(fields: list[tuple[str, str]], metadata: dict | None = None) -> str:
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": n,
                    "type": t,
                    "nullable": True,
                    "metadata": (metadata or {}).get(n, {}),
                }
                for n, t in fields
            ],
        }
    )


def write_commit(table: str, version: int, actions: list[dict]) -> None:
    log_dir = os.path.join(table, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")


def write_parquet(table: str, rel_path: str, columns: dict[str, list]) -> dict:
    """Write a part file; return (path-keyed) add fields: size, stats."""
    abs_path = os.path.join(table, rel_path)
    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
    t = pa.table(columns)
    pq.write_table(t, abs_path, compression="snappy")
    n = t.num_rows
    mins, maxs, nulls = {}, {}, {}
    for name in columns:
        vals = [v for v in columns[name] if v is not None]
        nulls[name] = len(columns[name]) - len(vals)
        if vals:
            mins[name] = min(vals)
            maxs[name] = max(vals)
    stats = {
        "numRecords": n,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }
    return {
        "path": rel_path,
        "size": os.path.getsize(abs_path),
        "modificationTime": 1700000000000,
        "dataChange": True,
        "stats": json.dumps(stats),
    }


# -- deletion vectors (independent serializer, spec-transcribed) ------------

_MAGIC = 1681511377
_COOKIE_NO_RUN = 12346


def _serialize_bitmap32_array_containers(values: list[int]) -> bytes:
    """Portable 32-bit roaring serialization (RoaringFormatSpec,
    NO_RUNCONTAINER cookie): array containers up to 4096 values,
    bitmap containers beyond (readers infer the type from the
    cardinality header)."""

    def _payload(lo_vals: list[int]) -> bytes:
        if len(lo_vals) > 4096:
            words = [0] * 1024
            for v in lo_vals:
                words[v >> 6] |= 1 << (v & 63)
            return struct.pack("<1024Q", *words)
        return b"".join(struct.pack("<H", v) for v in sorted(lo_vals))

    by_high: dict[int, list[int]] = {}
    for v in values:
        by_high.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_high)
    out = bytearray(struct.pack("<II", _COOKIE_NO_RUN, len(keys)))
    for k in keys:
        out += struct.pack("<HH", k, len(by_high[k]) - 1)
    # the NO_RUNCONTAINER cookie always carries per-container offsets
    # (from the start of the bitmap)
    payloads = [_payload(sorted(by_high[k])) for k in keys]
    off = 8 + 4 * len(keys) + 4 * len(keys)
    for p in payloads:
        out += struct.pack("<I", off)
        off += len(p)
    for p in payloads:
        out += p
    return bytes(out)


def serialize_dv(positions: list[int]) -> bytes:
    by_high: dict[int, list[int]] = {}
    for p in positions:
        by_high.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    n = (max(by_high) + 1) if by_high else 0
    out = bytearray(struct.pack("<Iq", _MAGIC, n))
    for high in range(n):
        out += _serialize_bitmap32_array_containers(sorted(by_high.get(high, [])))
    return bytes(out)


_Z85 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"


def z85(data: bytes) -> str:
    """Delta's base85 (Z85, ZeroMQ RFC 32), written out digit by digit:
    each 4-byte big-endian block, zero-padded at the end, becomes 5
    characters, most significant first."""
    data += bytes(-len(data) % 4)
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        out += [_Z85[v // 85**k % 85] for k in range(4, -1, -1)]
    return "".join(out)


def write_dv(table: str, positions: list[int], prefix: str = "") -> dict:
    """On-disk 'u'-storage DV exactly as delta-spark lays it out:
    ``<prefix>/deletion_vector_<uuid>.bin``, descriptor ref =
    prefix + Z85(uuid bytes)."""
    u = uuid.uuid4()
    data = serialize_dv(positions)
    rel_dir = os.path.join(table, prefix) if prefix else table
    os.makedirs(rel_dir, exist_ok=True)
    path = os.path.join(rel_dir, f"deletion_vector_{u}.bin")
    with open(path, "wb") as fh:
        fh.write(bytes([1]))  # format version
        fh.write(struct.pack(">i", len(data)))
        fh.write(data)
        fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85(u.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }


# -- classic checkpoint ------------------------------------------------------


def write_checkpoint(table: str, version: int, actions: list[dict]) -> None:
    """Classic single-part checkpoint parquet + _last_checkpoint, the
    column layout delta-spark writes (one action per row, others null)."""
    log_dir = os.path.join(table, "_delta_log")
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()), ("options", pa.map_(pa.string(), pa.string()))])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )

    def _map(d):
        return list((d or {}).items())

    adds, removes, metas, protos = [], [], [], []
    for a in actions:
        ad = a.get("add")
        rm = a.get("remove")
        md = a.get("metaData")
        pr = a.get("protocol")
        adds.append(
            {
                "path": ad["path"],
                "partitionValues": _map(ad.get("partitionValues")),
                "size": ad["size"],
                "modificationTime": ad.get("modificationTime", 0),
                "dataChange": False,
                "stats": ad.get("stats"),
            }
            if ad
            else None
        )
        removes.append(
            {"path": rm["path"], "deletionTimestamp": rm.get("deletionTimestamp", 0), "dataChange": False}
            if rm
            else None
        )
        metas.append(
            {
                "id": md["id"],
                "format": {"provider": "parquet", "options": []},
                "schemaString": md["schemaString"],
                "partitionColumns": md.get("partitionColumns") or [],
                "configuration": _map(md.get("configuration")),
                "createdTime": md.get("createdTime", 0),
            }
            if md
            else None
        )
        protos.append(
            {"minReaderVersion": pr["minReaderVersion"], "minWriterVersion": pr["minWriterVersion"]}
            if pr
            else None
        )
    t = pa.table(
        {
            "add": pa.array(adds, type=add_t),
            "remove": pa.array(removes, type=remove_t),
            "metaData": pa.array(metas, type=meta_t),
            "protocol": pa.array(protos, type=proto_t),
        }
    )
    cp = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    pq.write_table(t, cp)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(
            json.dumps(
                {"version": version, "size": len(actions), "sizeInBytes": os.path.getsize(cp)}
            )
        )


# ---------------------------------------------------------------------------
# mini reader (PROTOCOL.md state reconstruction; zero jodie_spark code)
# ---------------------------------------------------------------------------


def foreign_read_state(table: str) -> dict:
    """Replay every commit JSON (and classic checkpoint if the tail is
    incomplete) → {'files': {path: add}, 'metadata':…, 'protocol':…}."""
    log_dir = os.path.join(table, "_delta_log")
    versions = sorted(
        int(n[:-5])
        for n in os.listdir(log_dir)
        if n.endswith(".json") and n[:-5].isdigit()
    )
    files: dict[str, dict] = {}
    metadata = None
    protocol = None
    start = 0
    cp = [
        n
        for n in os.listdir(log_dir)
        if n.endswith(".checkpoint.parquet")
    ]
    if cp and (not versions or min(versions) > 0):
        cp_v = max(int(n.split(".")[0]) for n in cp)
        t = pq.read_table(os.path.join(log_dir, f"{cp_v:020d}.checkpoint.parquet"))
        for row in t.to_pylist():
            if row.get("add"):
                ad = dict(row["add"])
                if isinstance(ad.get("partitionValues"), list):
                    ad["partitionValues"] = dict(ad["partitionValues"])
                files[ad["path"]] = ad
            if row.get("remove"):
                files.pop(row["remove"]["path"], None)
            if row.get("metaData") and row["metaData"].get("id"):
                md = dict(row["metaData"])
                if isinstance(md.get("configuration"), list):
                    md["configuration"] = dict(md["configuration"])
                metadata = md
            if row.get("protocol") and row["protocol"].get("minReaderVersion") is not None:
                protocol = row["protocol"]
        start = cp_v + 1
    for v in versions:
        if v < start:
            continue
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("add"):
                    files[a["add"]["path"]] = a["add"]
                elif a.get("remove"):
                    files.pop(a["remove"]["path"], None)
                elif a.get("metaData"):
                    metadata = a["metaData"]
                elif a.get("protocol"):
                    protocol = a["protocol"]
    return {"files": files, "metadata": metadata, "protocol": protocol}


def foreign_read_rows_by_field_id(table: str, columns: list[str]) -> list[tuple]:
    """Materialize live rows the way a FOREIGN field-id reader (mode=id
    contract) would: per logical column, look up delta.columnMapping.id
    in the metadata schemaString, then resolve each parquet file's
    column by matching FOOTER FIELD ID — never by name. Pure
    pyarrow+json, no jodie_spark code; partition columns resolve from
    the add's partitionValues keyed by physicalName."""
    import urllib.parse

    state = foreign_read_state(table)
    schema = json.loads(state["metadata"]["schemaString"])
    meta_of = {f["name"]: f.get("metadata") or {} for f in schema["fields"]}
    id_of = {c: meta_of[c].get("delta.columnMapping.id") for c in columns}
    phys_of = {
        c: meta_of[c].get("delta.columnMapping.physicalName", c) for c in columns
    }
    type_of = {f["name"]: f["type"] for f in schema["fields"]}
    partition_cols = set(state["metadata"].get("partitionColumns") or [])
    rows: list[tuple] = []
    for rel, add in state["files"].items():
        fpath = os.path.join(table, urllib.parse.unquote(rel))
        pf = pq.ParquetFile(fpath)
        arrow = pf.schema_arrow
        by_id = {}
        for fld in arrow:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = fld.name
        tbl = pf.read()
        n = tbl.num_rows
        cols = []
        for c in columns:
            if phys_of[c] in partition_cols:
                pv = (add.get("partitionValues") or {}).get(phys_of[c])
                if type_of.get(c) == "long" and pv is not None:
                    pv = int(pv)
                cols.append([pv] * n)
                continue
            fid = id_of[c]
            assert fid is not None, f"no column id recorded for {c}"
            assert int(fid) in by_id, (
                f"file {rel} carries no field id {fid} for {c}: {by_id}"
            )
            cols.append(tbl.column(by_id[int(fid)]).to_pylist())
        rows.extend(zip(*cols) if n else [])
    return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))


def foreign_read_rows(table: str, columns: list[str]) -> list[tuple]:
    """Materialize live rows with duckdb over the reconstructed file
    list (plain tables: no DV / column-mapping interpretation)."""
    import urllib.parse

    import duckdb

    state = foreign_read_state(table)
    if not state["files"]:
        return []
    paths = [
        os.path.join(table, urllib.parse.unquote(p)) for p in state["files"]
    ]
    con = duckdb.connect()
    sel = ", ".join(columns)
    q = (
        f"SELECT {sel} FROM parquet_scan({paths!r}, hive_partitioning=true) "
        f"ORDER BY ALL"
    )
    return [tuple(r) for r in con.execute(q).fetchall()]
