"""UniForm-style Apache Iceberg metadata generation.

Public Delta feature parity (``delta.universalFormat.enabledFormats=
iceberg``): emit Iceberg table metadata describing the CURRENT Delta
snapshot so Iceberg-native engines can read the same parquet data
files without copying them. Layout written under ``<table>/metadata/``
(the standard Iceberg sidecar location UniForm uses):

- ``vN.metadata.json``  — Iceberg TableMetadata (format-version 2)
- ``snap-<id>.avro``    — the manifest list (one manifest)
- ``manifest-<id>.avro``— one ADDED entry per live data file
- ``version-hint.text`` — latest metadata version for HadoopCatalog-style
  discovery

Because this repo's parquet files carry no Iceberg field ids, the
metadata includes a ``schema.name-mapping.default`` property (the
public Iceberg mechanism for exactly this: files written without ids
resolve columns by name). Tables with deletion vectors or column
mapping are refused — DV'd rows would resurrect for an Iceberg reader,
and mapped tables store physical column names the name mapping would
mis-resolve — the same contract as GENERATE symlink_format_manifest
(delta-spark's IcebergCompat similarly gates what UniForm accepts).

All structures follow the public Iceberg table spec (format v2) and
Avro spec; see jodie_spark.interop.avro for the container codec.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from typing import Any

from pyspark.sql import types as T

from jodie_spark.errors import DeltaProtocolError
from jodie_spark.interop.avro import write_container

# ---------------------------------------------------------------------------
# spark schema → iceberg schema (+ name mapping)
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    "boolean": "boolean",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def _iceberg_type(dt: T.DataType, next_id: list[int]) -> Any:
    tn = dt.typeName()
    if tn in _PRIMITIVES:
        return _PRIMITIVES[tn]
    if tn == "decimal":
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id[0]
            next_id[0] += 1
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type(f.dataType, next_id),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid = next_id[0]
        next_id[0] += 1
        vid = next_id[0]
        next_id[0] += 1
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, next_id),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    raise DeltaProtocolError(
        f"cannot express Spark type {dt.simpleString()} in Iceberg metadata"
    )


def _name_mapping(ice_struct: dict) -> list[dict]:
    """schema.name-mapping.default: field-id ← name pairs so files
    written WITHOUT ids (plain Spark parquet) resolve by name."""

    def walk(t: Any) -> list[dict]:
        if isinstance(t, dict) and t.get("type") == "struct":
            out = []
            for f in t["fields"]:
                entry: dict[str, Any] = {"field-id": f["id"], "names": [f["name"]]}
                sub = walk(f["type"])
                if sub:
                    entry["fields"] = sub
                out.append(entry)
            return out
        if isinstance(t, dict) and t.get("type") == "list":
            entry = {"field-id": t["element-id"], "names": ["element"]}
            sub = walk(t["element"])
            if sub:
                entry["fields"] = sub
            return [entry]
        if isinstance(t, dict) and t.get("type") == "map":
            ke = {"field-id": t["key-id"], "names": ["key"]}
            ve: dict[str, Any] = {"field-id": t["value-id"], "names": ["value"]}
            sub = walk(t["value"])
            if sub:
                ve["fields"] = sub
            return [ke, ve]
        return []

    return walk(ice_struct)


def _partition_value(raw: str | None, dt: T.DataType) -> Any:
    """Delta stores partitionValues as strings; Iceberg manifests store
    them typed. date → days since epoch (Iceberg's physical form)."""
    if raw is None:
        return None
    tn = dt.typeName()
    if tn in ("integer", "short", "byte", "long"):
        return int(raw)
    if tn in ("float", "double"):
        return float(raw)
    if tn == "boolean":
        return raw.lower() == "true"
    if tn == "string":
        return raw
    if tn == "date":
        import datetime

        return (datetime.date.fromisoformat(raw) - datetime.date(1970, 1, 1)).days
    raise DeltaProtocolError(
        f"unsupported partition column type for Iceberg export: {tn}"
    )


_AVRO_PRIM = {
    "integer": "int",
    "short": "int",
    "byte": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
    "date": "int",  # days since epoch
}


# ---------------------------------------------------------------------------
# manifest schemas (iceberg spec v2, required fields + spec'd field-ids)
# ---------------------------------------------------------------------------

def _manifest_entry_schema(part_fields: list[dict]) -> dict:
    partition_rec = {
        "type": "record",
        "name": "r102",
        "fields": part_fields,
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_rec, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions", "type": ["null", {"type": "array", "items": {
            "type": "record", "name": "r508", "fields": [
                {"name": "contains_null", "type": "boolean", "field-id": 509},
                {"name": "contains_nan", "type": ["null", "boolean"], "default": None, "field-id": 518},
            ]}}], "default": None, "field-id": 507},
    ],
}


# ---------------------------------------------------------------------------
# the generator
# ---------------------------------------------------------------------------

def convert_to_iceberg(table) -> str:
    """Write Iceberg metadata for the table's CURRENT snapshot; returns
    the path of the new ``vN.metadata.json``. Re-running after new
    Delta commits writes v(N+1) with a fresh Iceberg snapshot whose
    manifest describes the new file set (each call is a full
    conversion of the current state, the UniForm model where every
    Delta commit maps to one Iceberg snapshot)."""
    from jodie_spark.tables.column_mapping import column_mapping_mode

    snap = table.snapshot()
    if column_mapping_mode(snap.metadata) != "none":
        raise DeltaProtocolError(
            "Iceberg metadata generation on a column-mapped table is not "
            "supported: the parquet files carry physical column names the "
            "name mapping would mis-resolve"
        )
    adds = snap.add_files()
    if any(a.get("deletionVector") for a in adds):
        raise DeltaProtocolError(
            "Iceberg metadata generation on a table with deletion vectors "
            "would expose deleted rows to Iceberg readers; run "
            "reorg_purge() first"
        )
    schema = table.schema(snap)
    next_id = [1]
    ice_struct = _iceberg_type(schema, next_id)
    last_column_id = next_id[0] - 1
    schema_json = {"type": "struct", "schema-id": 0, "fields": ice_struct["fields"]}

    part_cols = snap.partition_columns
    by_name = {f.name: f for f in schema.fields}
    id_by_name = {f["name"]: f["id"] for f in ice_struct["fields"]}
    spec_fields = []
    part_avro_fields = []
    for i, c in enumerate(part_cols):
        f = by_name[c]
        avro_t = _AVRO_PRIM.get(f.dataType.typeName())
        if avro_t is None:
            raise DeltaProtocolError(
                f"unsupported partition column type for Iceberg export: "
                f"{f.dataType.simpleString()}"
            )
        spec_fields.append(
            {
                "name": c,
                "transform": "identity",
                "source-id": id_by_name[c],
                "field-id": 1000 + i,
            }
        )
        part_avro_fields.append(
            {
                "name": c,
                "type": ["null", avro_t],
                "default": None,
                "field-id": 1000 + i,
            }
        )

    meta_dir = os.path.join(table.path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    snapshot_id = int(uuid.uuid4().int % (1 << 62))
    sequence_number = snap.version + 1  # monotone with the delta log
    now_ms = int(time.time() * 1000)

    # --- manifest ---------------------------------------------------------
    entries = []
    total_rows = 0
    for a in adds:
        rel = urllib.parse.unquote(a["path"])
        abs_path = os.path.abspath(os.path.join(table.path, rel))
        stats = json.loads(a["stats"]) if a.get("stats") else {}
        n = int(stats.get("numRecords") or 0)
        total_rows += n
        pv = a.get("partitionValues") or {}
        partition = {
            c: _partition_value(pv.get(c), by_name[c].dataType) for c in part_cols
        }
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": sequence_number,
                "file_sequence_number": sequence_number,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": "file://" + abs_path,
                    "file_format": "PARQUET",
                    "partition": partition,
                    "record_count": n,
                    "file_size_in_bytes": int(a["size"]),
                },
            }
        )
    manifest_path = os.path.join(meta_dir, f"manifest-{uuid.uuid4().hex}.avro")
    manifest_len = write_container(
        manifest_path,
        _manifest_entry_schema(part_avro_fields),
        entries,
        metadata={
            "schema": json.dumps(schema_json, separators=(",", ":")),
            "partition-spec": json.dumps(spec_fields, separators=(",", ":")),
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )

    # --- manifest list ----------------------------------------------------
    manifest_list_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    write_container(
        manifest_list_path,
        _MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": "file://" + os.path.abspath(manifest_path),
                "manifest_length": manifest_len,
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": sequence_number,
                "min_sequence_number": sequence_number,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": total_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": None,
            }
        ],
        metadata={"format-version": "2"},
    )

    # --- table metadata ---------------------------------------------------
    existing = [
        f for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json") and f[1:].split(".")[0].isdigit()
    ]
    version = 1 + max((int(f[1:].split(".")[0]) for f in existing), default=0)
    # a stable table-uuid across regenerations: persist in the first
    # metadata file, reuse afterwards
    table_uuid = None
    prior_snapshots: list[dict] = []
    prior_snapshot_log: list[dict] = []
    prior_metadata_log: list[dict] = []
    if existing:
        # latest prior metadata: carry its uuid AND accumulate its
        # snapshot history (UniForm appends a snapshot per conversion
        # instead of rewriting history — time travel through the
        # Iceberg side stays possible)
        latest = max(existing, key=lambda f: int(f[1:].split(".")[0]))
        try:
            with open(os.path.join(meta_dir, latest), encoding="utf-8") as fh:
                prior = json.load(fh)
            table_uuid = prior.get("table-uuid")
            prior_snapshots = list(prior.get("snapshots") or [])
            prior_snapshot_log = list(prior.get("snapshot-log") or [])
            prior_metadata_log = list(prior.get("metadata-log") or [])
            prior_metadata_log.append(
                {
                    "timestamp-ms": prior.get("last-updated-ms", now_ms),
                    "metadata-file": "file://"
                    + os.path.abspath(os.path.join(meta_dir, latest)),
                }
            )
        except (OSError, json.JSONDecodeError):
            pass
    table_uuid = table_uuid or str(uuid.uuid4())
    metadata = {
        "format-version": 2,
        "table-uuid": table_uuid,
        "location": "file://" + os.path.abspath(table.path),
        "last-sequence-number": sequence_number,
        "last-updated-ms": now_ms,
        "last-column-id": last_column_id,
        "current-schema-id": 0,
        "schemas": [schema_json],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 1000 + len(spec_fields) - 1 if spec_fields else 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "schema.name-mapping.default": json.dumps(
                _name_mapping(ice_struct), separators=(",", ":")
            ),
            "delta.universalFormat.source": "jodie_spark",
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": prior_snapshots
        + [
            {
                "snapshot-id": snapshot_id,
                "sequence-number": sequence_number,
                "timestamp-ms": now_ms,
                "manifest-list": "file://" + os.path.abspath(manifest_list_path),
                "summary": {
                    "operation": "append",
                    "added-data-files": str(len(entries)),
                    "added-records": str(total_rows),
                },
                "schema-id": 0,
            }
        ],
        "refs": {
            "main": {"snapshot-id": snapshot_id, "type": "branch"}
        },
        "snapshot-log": prior_snapshot_log
        + [{"timestamp-ms": now_ms, "snapshot-id": snapshot_id}],
        "metadata-log": prior_metadata_log,
    }
    meta_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    tmp = meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(metadata, fh, indent=1)
    os.replace(tmp, meta_path)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(version))
    return meta_path


# ---------------------------------------------------------------------------
# the reverse direction: CONVERT TO DELTA from Iceberg metadata
# ---------------------------------------------------------------------------

_ICE_TO_SPARK = {
    "boolean": "boolean",
    "int": "integer",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
    "uuid": "string",
}


def _spark_type(ice: Any):
    from pyspark.sql import types as T

    if isinstance(ice, str):
        if ice in _ICE_TO_SPARK:
            return T._parse_datatype_string(_ICE_TO_SPARK[ice])
        if ice.startswith("decimal"):
            return T._parse_datatype_string(ice)
        raise DeltaProtocolError(f"unsupported Iceberg type {ice!r}")
    t = ice.get("type")
    if t == "struct":
        from pyspark.sql import types as T

        return T.StructType(
            [
                T.StructField(f["name"], _spark_type(f["type"]), not f["required"])
                for f in ice["fields"]
            ]
        )
    if t == "list":
        from pyspark.sql import types as T

        return T.ArrayType(_spark_type(ice["element"]), not ice["element-required"])
    if t == "map":
        from pyspark.sql import types as T

        return T.MapType(
            _spark_type(ice["key"]),
            _spark_type(ice["value"]),
            not ice["value-required"],
        )
    raise DeltaProtocolError(f"unsupported Iceberg type {ice!r}")


def _delta_partition_string(v: Any, ice_type: str) -> str | None:
    """Typed Iceberg manifest partition value → Delta's string form."""
    if v is None:
        return None
    if ice_type == "date":
        import datetime

        return (datetime.date(1970, 1, 1) + datetime.timedelta(days=int(v))).isoformat()
    if ice_type == "boolean":
        return "true" if v else "false"
    return str(v)


def convert_iceberg_to_delta(spark, path: str):
    """``CONVERT TO DELTA iceberg.`path``` (public delta-spark feature):
    create a Delta log over an Iceberg table's CURRENT snapshot without
    touching the data files. Reads ``metadata/version-hint.text`` →
    ``vN.metadata.json`` → current snapshot → manifest list → manifests
    (DELETED entries skipped), maps the Iceberg schema to Spark types
    and identity partition specs to Delta partition columns
    (non-identity transforms refuse — Delta cannot express them), and
    commits one version-0 CONVERT with per-file stats read from the
    parquet footers (thread-pooled, O(#files) like the parquet
    convert). Files outside the table root keep absolute paths, same
    as shallow-clone adds."""
    from jodie_spark.errors import JodieValidationError
    from jodie_spark.interop.avro import read_container
    from jodie_spark.tables.log import DeltaLog
    from jodie_spark.tables.stats import collect_file_stats
    from jodie_spark.tables.table import DeltaTable
    from jodie_spark.tables.writer import write_metrics

    path = os.path.abspath(path)
    log = DeltaLog(path)
    if log.exists():
        raise JodieValidationError(f"{path} is already a Delta table")
    meta_dir = os.path.join(path, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.isfile(hint):
        with open(hint, encoding="utf-8") as fh:
            v = int(fh.read().strip())
        meta_path = os.path.join(meta_dir, f"v{v}.metadata.json")
    else:  # latest vN.metadata.json by number
        cands = sorted(
            (
                int(f[1:].split(".")[0]), f)
            for f in os.listdir(meta_dir)
            if f.endswith(".metadata.json") and f[1:].split(".")[0].isdigit()
        )
        if not cands:
            raise JodieValidationError(f"no Iceberg metadata under {meta_dir}")
        meta_path = os.path.join(meta_dir, cands[-1][1])
    with open(meta_path, encoding="utf-8") as fh:
        md = json.load(fh)
    if md.get("format-version") not in (1, 2):
        raise DeltaProtocolError(
            f"unsupported Iceberg format-version {md.get('format-version')}"
        )
    schema_json = next(
        s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
    ) if "schemas" in md else md["schema"]
    schema = _spark_type({"type": "struct", "fields": schema_json["fields"]})
    spec = next(
        (p for p in md.get("partition-specs", []) if p["spec-id"] == md.get("default-spec-id", 0)),
        {"fields": md.get("partition-spec", [])},
    )
    part_cols = []
    part_types = {}
    by_id = {f["id"]: f for f in schema_json["fields"]}
    for f in spec["fields"]:
        if f["transform"] != "identity":
            raise DeltaProtocolError(
                f"cannot convert Iceberg partition transform "
                f"{f['transform']!r} to Delta (identity only)"
            )
        src = by_id.get(f["source-id"])
        if src is None:
            raise DeltaProtocolError(
                f"partition source-id {f['source-id']} not in schema"
            )
        part_cols.append(src["name"])
        part_types[f["name"]] = src["type"]

    snap_id = md.get("current-snapshot-id")
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == snap_id)
    ml_path = snap["manifest-list"]
    if ml_path.startswith("file://"):
        ml_path = ml_path[len("file://"):]
    _, manifests, _ = read_container(ml_path)
    data_files = []
    for m in manifests:
        mp = m["manifest_path"]
        if mp.startswith("file://"):
            mp = mp[len("file://"):]
        _, entries, _ = read_container(mp)
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            d = e["data_file"]
            if d.get("content", 0) != 0:
                raise DeltaProtocolError(
                    "Iceberg v2 delete files cannot convert to Delta — "
                    "compact the table to a pure-data snapshot first"
                )
            if d["file_format"].upper() != "PARQUET":
                raise DeltaProtocolError(
                    f"cannot convert {d['file_format']} data files"
                )
            data_files.append(d)
    if not data_files:
        raise JodieValidationError("Iceberg snapshot lists no data files")

    root = path + os.sep
    from concurrent.futures import ThreadPoolExecutor

    def to_add(d):
        fp = d["file_path"]
        if fp.startswith("file://"):
            fp = fp[len("file://"):]
        fp = os.path.abspath(fp)
        rel = fp[len(root):] if fp.startswith(root) else fp
        pv = {
            name: _delta_partition_string(
                (d.get("partition") or {}).get(name), part_types.get(name, "string")
            )
            for name in (d.get("partition") or {})
        }
        stats = collect_file_stats(fp, exclude=set(pv))
        return {
            "path": urllib.parse.quote(rel, safe="/="),
            "partitionValues": pv,
            "size": int(d["file_size_in_bytes"]),
            "modificationTime": int(os.path.getmtime(fp) * 1000),
            "dataChange": True,
            "stats": json.dumps(stats, separators=(",", ":")),
        }

    with ThreadPoolExecutor(max_workers=min(32, max(4, len(data_files)))) as pool:
        adds = list(pool.map(to_add, data_files))

    metadata = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema.json(),
        "partitionColumns": part_cols,
        "configuration": {},
        "createdTime": int(time.time() * 1000),
    }
    actions = [{"metaData": metadata}] + [{"add": a} for a in adds]
    log.commit(
        -1,
        actions,
        "CONVERT",
        {"sourceFormat": "iceberg", "numFiles": str(len(adds))},
        write_metrics(adds),
    )
    return DeltaTable(spark, path)
