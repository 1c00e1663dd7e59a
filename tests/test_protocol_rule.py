"""The protocol rule: ``log.required_protocol`` decides every commit's
protocol from the commit's metadata and actions, and ``DeltaLog.commit``
is its one caller.

- the rule itself, table-driven: (base protocol, metadata, actions) →
  protocol, for every derived feature, each legacy writer bump, the
  writer-7 expansion and the protocols it must leave alone;
- end to end: table properties, constraints and column types that used
  to leave the protocol short of what the table uses.
"""

import json
import os

import pytest

from jodie_spark.tables.log import DeltaLog, held_features, required_protocol
from jodie_spark.tables.table import DeltaTable, write_delta

LEGACY = ["appendOnly", "invariants"]  # what a (1,2) base holds


def _meta(conf=None, fields=()):
    return {
        "configuration": dict(conf or {}),
        "schemaString": json.dumps({"type": "struct", "fields": list(fields)}),
    }


def _field(name, type_, **metadata):
    return {"name": name, "type": type_, "nullable": True, "metadata": metadata}


def _p(reader, writer, rf=None, wf=None):
    out = {"minReaderVersion": reader, "minWriterVersion": writer}
    if rf is not None:
        out["readerFeatures"] = sorted(rf)
    if wf is not None:
        out["writerFeatures"] = sorted(wf)
    return out


_P12 = _p(1, 2)
_DV_ADD = {"add": {"path": "a.parquet", "deletionVector": {"storageType": "u"}}}


def _cluster(columns, removed=False):
    return {
        "domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps({"clusteringColumns": [[c] for c in columns]}),
            "removed": removed,
        }
    }


_DROPPED = _p(3, 7, rf=[], wf=LEGACY + ["checkpointProtection"])

# id → (base, metadata, actions, expected protocol)
_CASES = {
    "nothing_needed": (_P12, _meta(), [], _P12),
    "create_default": (None, _meta(), [], _P12),
    "append_only_from_writer_1": (
        _p(1, 1), _meta({"delta.appendOnly": "true"}), [], _P12
    ),
    "check_constraints": (_P12, _meta({"delta.constraints.pos": "x > 0"}), [], _p(1, 3)),
    "change_data_feed": (_P12, _meta({"delta.enableChangeDataFeed": "true"}), [], _p(1, 4)),
    "generated_columns": (
        _P12,
        _meta(fields=[_field("g", "long", **{"delta.generationExpression": "1"})]),
        [],
        _p(1, 4),
    ),
    "identity_columns": (
        _P12,
        _meta(fields=[_field("i", "long", **{"delta.identity.start": 1})]),
        [],
        _p(1, 6),
    ),
    "constraints_and_cdf": (
        _P12,
        _meta({"delta.constraints.pos": "x > 0", "delta.enableChangeDataFeed": "true"}),
        [],
        _p(1, 4),
    ),
    "legacy_base_already_covers": (
        _p(1, 4), _meta({"delta.enableChangeDataFeed": "true"}), [], _p(1, 4)
    ),
    "column_mapping_name": (
        _P12,
        _meta({"delta.columnMapping.mode": "name"}),
        [],
        _p(3, 7, rf=["columnMapping"], wf=LEGACY + ["columnMapping"]),
    ),
    "column_mapping_id": (
        _P12,
        _meta({"delta.columnMapping.mode": "id"}),
        [],
        _p(3, 7, rf=["columnMapping"], wf=LEGACY + ["columnMapping"]),
    ),
    "deletion_vectors_property": (
        _P12,
        _meta({"delta.enableDeletionVectors": "true"}),
        [],
        _p(3, 7, rf=["deletionVectors"], wf=LEGACY + ["deletionVectors"]),
    ),
    "row_tracking": (
        _P12,
        _meta({"delta.enableRowTracking": "true"}),
        [],
        _p(1, 7, wf=LEGACY + ["domainMetadata", "rowTracking"]),
    ),
    "v2_checkpoint": (
        _P12,
        _meta({"delta.checkpointPolicy": "v2"}),
        [],
        _p(3, 7, rf=["v2Checkpoint"], wf=LEGACY + ["v2Checkpoint"]),
    ),
    "in_commit_timestamps": (
        _P12,
        _meta({"delta.enableInCommitTimestamps": "true"}),
        [],
        _p(1, 7, wf=LEGACY + ["inCommitTimestamp"]),
    ),
    "type_widening_property": (
        _P12,
        _meta({"delta.enableTypeWidening": "true"}),
        [],
        _p(3, 7, rf=["typeWidening"], wf=LEGACY + ["typeWidening"]),
    ),
    "checkpoint_protection": (
        _P12,
        _meta({"delta.requireCheckpointProtectionBeforeVersion": "3"}),
        [],
        _p(1, 7, wf=LEGACY + ["checkpointProtection"]),
    ),
    "column_defaults": (
        _P12,
        _meta(fields=[_field("d", "long", CURRENT_DEFAULT="0")]),
        [],
        _p(1, 7, wf=LEGACY + ["allowColumnDefaults"]),
    ),
    "type_changes": (
        _P12,
        _meta(fields=[_field("n", "long", **{"delta.typeChanges": [{}]})]),
        [],
        _p(3, 7, rf=["typeWidening"], wf=LEGACY + ["typeWidening"]),
    ),
    "nested_variant": (
        _P12,
        _meta(fields=[_field("v", {"type": "array", "elementType": "variant",
                                   "containsNull": True})]),
        [],
        _p(3, 7, rf=["variantType"], wf=LEGACY + ["variantType"]),
    ),
    "nested_timestamp_ntz": (
        _P12,
        _meta(fields=[_field("s", {"type": "struct", "fields": [
            _field("m", {"type": "map", "keyType": "string",
                         "valueType": "timestamp_ntz", "valueContainsNull": True})
        ]})]),
        [],
        _p(3, 7, rf=["timestampNtz"], wf=LEGACY + ["timestampNtz"]),
    ),
    "clustering_domain": (
        _P12, None, [_cluster(["k"])],
        _p(1, 7, wf=LEGACY + ["clustering", "domainMetadata"]),
    ),
    "clustering_domain_removed": (_P12, None, [_cluster([], removed=True)], _P12),
    "dv_add": (
        _P12, None, [_DV_ADD],
        _p(3, 7, rf=["deletionVectors"], wf=LEGACY + ["deletionVectors"]),
    ),
    "writer_7_expansion_from_writer_6": (
        _p(1, 6), None, [_DV_ADD],
        _p(3, 7, rf=["deletionVectors"], wf=LEGACY + [
            "changeDataFeed", "checkConstraints", "columnMapping",
            "deletionVectors", "generatedColumns", "identityColumns",
        ]),
    ),
    "writer_7_base_lists_only_what_it_has": (
        _p(1, 7, wf=["appendOnly"]),
        _meta({"delta.constraints.pos": "x > 0"}),
        [],
        _p(1, 7, wf=["appendOnly", "checkConstraints"]),
    ),
    "reader_2_writer_5_holds_column_mapping": (
        _p(2, 5), _meta({"delta.columnMapping.mode": "name"}), [], _p(2, 5)
    ),
    "reader_2_writer_5_to_reader_3": (
        _p(2, 5), None, [_DV_ADD],
        _p(3, 7, rf=["columnMapping", "deletionVectors"], wf=LEGACY + [
            "changeDataFeed", "checkConstraints", "columnMapping",
            "deletionVectors", "generatedColumns",
        ]),
    ),
    "drop_protocol_kept": (
        _DROPPED,
        _meta({"delta.checkpointPolicy": "classic",
               "delta.requireCheckpointProtectionBeforeVersion": "3"}),
        [],
        _DROPPED,
    ),
    "drop_protocol_only_raised": (
        _DROPPED,
        _meta({"delta.enableChangeDataFeed": "true",
               "delta.requireCheckpointProtectionBeforeVersion": "3"}),
        [],
        _p(3, 7, rf=[], wf=LEGACY + ["changeDataFeed", "checkpointProtection"]),
    ),
}


@pytest.mark.parametrize("case", list(_CASES))
def test_required_protocol(case):
    base, metadata, actions, expected = _CASES[case]
    got = required_protocol(base, metadata, actions)
    assert got == expected
    if base is not None and got == base:
        assert got is base  # a covering base comes back as is: no action


@pytest.mark.parametrize(
    "case",
    [
        "check_on_row_tracking_table",
        "cdf_property_at_create",
        "constraints_and_cdf_at_create",
        "cdf_set_later",
        "deletion_vectors_set_later",
        "row_tracking_set_later",
        "v2_checkpoint_set_later",
        "in_commit_timestamps_set_later",
        "timestamp_ntz_column",
    ],
)
def test_protocol_covers_what_the_table_uses(spark, tmpdir_path, case):
    """Each case left the protocol short of a feature the table uses;
    the table must now hold it, and stay writable."""
    p = os.path.join(tmpdir_path, case)

    def rows(i):
        if case == "timestamp_ntz_column":
            return spark.sql(f"SELECT {i}L AS id, TIMESTAMP_NTZ'2024-01-02 03:04:05' AS t")
        return spark.range(i, i + 1).selectExpr("id")

    later = {
        "cdf_set_later": ({"delta.enableChangeDataFeed": "true"}, {"changeDataFeed"}, set()),
        "deletion_vectors_set_later": (
            {"delta.enableDeletionVectors": "true"}, {"deletionVectors"}, {"deletionVectors"}
        ),
        "row_tracking_set_later": (
            {"delta.enableRowTracking": "true"}, {"rowTracking", "domainMetadata"}, set()
        ),
        "v2_checkpoint_set_later": (
            {"delta.checkpointPolicy": "v2"}, {"v2Checkpoint"}, {"v2Checkpoint"}
        ),
        "in_commit_timestamps_set_later": (
            {"delta.enableInCommitTimestamps": "true"}, {"inCommitTimestamp"}, set()
        ),
    }
    if case in later:
        props, want_w, want_r = later[case]
        write_delta(rows(0), p)
        DeltaTable.forPath(spark, p).set_properties(props)
    elif case == "check_on_row_tracking_table":
        write_delta(rows(0), p, options={"delta.enableRowTracking": "true"})
        DeltaTable.forPath(spark, p).add_check_constraint("pos", "id >= 0")
        want_w, want_r = {"checkConstraints", "rowTracking"}, set()
    elif case == "cdf_property_at_create":
        write_delta(rows(0), p, options={"delta.enableChangeDataFeed": "true"})
        want_w, want_r = {"changeDataFeed"}, set()
    elif case == "constraints_and_cdf_at_create":
        write_delta(
            rows(0),
            p,
            options={
                "delta.constraints.pos": "id >= 0",
                "delta.enableChangeDataFeed": "true",
            },
        )
        want_w, want_r = {"checkConstraints", "changeDataFeed"}, set()
    else:
        write_delta(rows(0), p)
        want_w, want_r = {"timestampNtz"}, {"timestampNtz"}
    held_w, held_r = held_features(DeltaLog(p).table_info().protocol)
    assert want_w <= held_w and want_r <= held_r, (held_w, held_r)
    write_delta(rows(1), p, mode="append")
    assert DeltaTable.forPath(spark, p).toDF().count() == 2


def test_widened_array_element_records_a_type_change():
    """A widened array element has no field of its own: its type change
    is recorded on the enclosing field with a ``fieldPath``, so the
    schema alone tells the rule the table needs typeWidening."""
    from pyspark.sql import types as T

    from jodie_spark.tables.merge import _annotate_type_changes

    def schema(element):
        return T.StructType([T.StructField("xs", T.ArrayType(element))])

    annotated, widened = _annotate_type_changes(
        schema(T.IntegerType()), schema(T.LongType()), 3
    )
    assert widened
    assert annotated["xs"].metadata["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long", "tableVersion": 3, "fieldPath": "element"}
    ]
    got = required_protocol(None, {"schemaString": annotated.json()}, [])
    assert "typeWidening" in got["readerFeatures"]
