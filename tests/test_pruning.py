"""Unit tests for stats-based file skipping — the correctness-critical
edge cases (temporal literals, string truncation, conservative
fallbacks) plus partition-pruned mutation behavior."""

import json
import os

from pyspark.sql import types as T

from jodie_spark.tables.pruning import (
    classify_conjunct,
    file_may_match,
    split_conjuncts,
)
from jodie_spark.tables.stats import _truncate_stat
from jodie_spark.tables.table import DeltaTable, write_delta

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DateType()),
    ]
)


def _add(stats: dict, partition_values: dict | None = None) -> dict:
    return {
        "path": "f.parquet",
        "partitionValues": partition_values or {},
        "stats": json.dumps(stats),
    }


def test_split_conjuncts_respects_parens_and_quotes():
    assert split_conjuncts("a = 1 and (b = 2 or c = 3) and name = 'x and y'") == [
        "a = 1",
        "b = 2 or c = 3",
        "name = 'x and y'",
    ]


def test_classify_kinds():
    cols = ["id", "name", "ts", "d"]
    assert classify_conjunct("id >= 5", cols).kind == "minmax"
    assert classify_conjunct("id = 5", cols).kind == "equality"
    assert classify_conjunct("name like '%x%'", cols).kind == "other"
    assert classify_conjunct("snapshot.id = update.id", cols).kind == "unresolved"
    assert classify_conjunct("5 < id", cols).op == ">"  # literal-first swap


def test_or_conjunct_with_string_literals_keeps_every_file():
    # ADVICE repro: "name = 'x' or id = 5" must NOT be classified as an
    # equality on name with rhs "'x' or id = 5" — that pruned files whose
    # rows match the OTHER disjunct.
    cols = ["id", "name", "ts", "d"]
    cj = classify_conjunct("name = 'x' or id = 5", cols)
    assert cj.kind == "other"
    stats = {
        "numRecords": 1,
        "minValues": {"id": 5, "name": "zzz"},
        "maxValues": {"id": 5, "name": "zzz"},
        "nullCount": {"id": 0, "name": 0},
    }
    # file matches id = 5 but not name = 'x' — must survive
    assert file_may_match(_add(stats), [cj], SCHEMA, [])
    # numeric-literal variant and parenthesized variant
    assert classify_conjunct("id = 1 or id = 5", cols).kind == "other"
    assert classify_conjunct("(name = 'x') or (id = 5)", cols).kind == "other"
    # OR inside a string literal is NOT an OR operator
    eq = classify_conjunct("name = 'cats or dogs'", cols)
    assert eq.kind == "equality" and eq.literal == "cats or dogs"
    # column names containing "or" as a substring are untouched
    assert classify_conjunct("score = 5", ["score"]).kind == "equality"


def test_doubled_quote_escape_bails_conservatively():
    cj = classify_conjunct("name = 'it''s'", ["name"])
    assert cj.kind == "other"  # never parsed into a garbage literal
    stats = {
        "numRecords": 1,
        "minValues": {"name": "aaa"},
        "maxValues": {"name": "bbb"},
        "nullCount": {"name": 0},
    }
    assert file_may_match(_add(stats), [cj], SCHEMA, [])


def test_timestamp_equality_padding_mismatch_does_not_prune():
    # stats store microsecond-padded isoformat; literal has no fraction
    stats = {
        "numRecords": 1,
        "minValues": {"ts": "2023-01-01T00:00:00.000000"},
        "maxValues": {"ts": "2023-01-01T00:00:00.000000"},
        "nullCount": {"ts": 0},
    }
    cj = classify_conjunct("ts = timestamp'2023-01-01 00:00:00'", ["ts"])
    assert file_may_match(_add(stats), [cj], SCHEMA, [])


def test_timestamp_range_pruning_still_works():
    stats = {
        "numRecords": 1,
        "minValues": {"ts": "2023-01-01T00:00:00.000000"},
        "maxValues": {"ts": "2023-06-01T00:00:00.000000"},
        "nullCount": {"ts": 0},
    }
    keep = classify_conjunct("ts >= timestamp'2023-05-01 00:00:00'", ["ts"])
    drop = classify_conjunct("ts > timestamp'2023-07-01 00:00:00'", ["ts"])
    assert file_may_match(_add(stats), [keep], SCHEMA, [])
    assert not file_may_match(_add(stats), [drop], SCHEMA, [])


def test_date_literal_pruning():
    stats = {
        "numRecords": 1,
        "minValues": {"d": "2023-01-01"},
        "maxValues": {"d": "2023-01-31"},
        "nullCount": {"d": 0},
    }
    assert file_may_match(_add(stats), [classify_conjunct("d = date'2023-01-15'", ["d"])], SCHEMA, [])
    assert not file_may_match(
        _add(stats), [classify_conjunct("d < date'2023-01-01'", ["d"])], SCHEMA, []
    )


def test_unparseable_temporal_never_prunes():
    stats = {
        "numRecords": 1,
        "minValues": {"ts": "garbage"},
        "maxValues": {"ts": "garbage"},
        "nullCount": {"ts": 0},
    }
    cj = classify_conjunct("ts = timestamp'2023-01-01 00:00:00'", ["ts"])
    assert file_may_match(_add(stats), [cj], SCHEMA, [])


def test_string_stat_truncation_widens_max():
    long = "a" * 100
    assert _truncate_stat(long, is_max=False) == "a" * 32  # prefix is a valid lower bound
    widened = _truncate_stat(long, is_max=True)
    assert len(widened) == 32 and widened > long  # widened upper bound
    assert _truncate_stat("short", is_max=True) == "short"


def test_null_count_pruning():
    stats = {
        "numRecords": 10,
        "minValues": {"id": 1},
        "maxValues": {"id": 5},
        "nullCount": {"id": 0},
    }
    assert not file_may_match(
        _add(stats), [classify_conjunct("id is null", ["id"])], SCHEMA, []
    )
    all_null = {
        "numRecords": 10,
        "minValues": {},
        "maxValues": {},
        "nullCount": {"id": 10},
    }
    assert not file_may_match(
        _add(all_null), [classify_conjunct("id is not null", ["id"])], SCHEMA, []
    )


def test_partition_value_pruning():
    add = _add({"numRecords": 1, "minValues": {}, "maxValues": {}, "nullCount": {}},
               {"name": "us"})
    keep = classify_conjunct("name = 'us'", ["name"])
    drop = classify_conjunct("name = 'eu'", ["name"])
    assert file_may_match(add, [keep], SCHEMA, ["name"])
    assert not file_may_match(add, [drop], SCHEMA, ["name"])


def test_uncoercible_partition_value_keeps_file():
    """A partition value that is PRESENT but serialized in a form
    _coerce cannot parse (foreign writer) must keep the file — only a
    genuinely NULL partition value proves non-match (ADVICE r10)."""
    weird = _add({}, {"d": "02/01/2020 oddball"})
    null_pv = _add({}, {"d": None})
    non_null_conds = [
        "d = '2020-01-02'",
        "d != '2020-01-02'",
        "d not in ('2020-01-02')",
        "d in ('2020-01-02')",
        "d between '2020-01-01' and '2020-01-03'",
        "d > '2020-01-01'",
    ]
    for cond in non_null_conds:
        cj = classify_conjunct(cond, ["d"])
        assert cj.kind != "unresolved", cond
        assert file_may_match(weird, [cj], SCHEMA, ["d"]), cond
        assert not file_may_match(null_pv, [cj], SCHEMA, ["d"]), cond
    # null tests decide on raw presence, not coercibility
    is_null = classify_conjunct("d is null", ["d"])
    not_null = classify_conjunct("d is not null", ["d"])
    assert not file_may_match(weird, [is_null], SCHEMA, ["d"])
    assert file_may_match(weird, [not_null], SCHEMA, ["d"])
    assert file_may_match(null_pv, [is_null], SCHEMA, ["d"])
    assert not file_may_match(null_pv, [not_null], SCHEMA, ["d"])


def test_uncoercible_literal_keeps_every_file():
    """An un-coercible LITERAL makes the conjunct unusable for
    skipping — both a stats file and a partition file must survive
    (previously the Spark-side planner cast it to NULL and pruned
    everything; driver-side parity pinned in
    test_driver_and_spark_planners_agree)."""
    stats_file = _add(
        {"numRecords": 5, "minValues": {"id": 1}, "maxValues": {"id": 9},
         "nullCount": {"id": 0}}
    )
    part_file = _add({}, {"id": "3"})
    for cond in [
        "id = 'zzz'",
        "id != 'zzz'",
        "id not in ('zzz', '1')",
        "id between 'a' and 'b'",
        "id > 'zzz'",
    ]:
        cj = classify_conjunct(cond, ["id"])
        assert file_may_match(stats_file, [cj], SCHEMA, []), cond
        assert file_may_match(part_file, [cj], SCHEMA, ["id"]), cond


def test_partitioned_delete_rewrites_only_matching_partition(spark, tmpdir_path):
    path = os.path.join(tmpdir_path, "pdel")
    df = spark.createDataFrame(
        [(i, "p%d" % (i % 3)) for i in range(9)], "k int, p string"
    )
    write_delta(df, path, partition_by=["p"])
    t = DeltaTable.forPath(spark, path)
    before = {f["path"] for f in t.snapshot().add_files() if "p=p1" in f["path"] or "p=p2" in f["path"]}
    t.delete("p = 'p0'")
    after = {f["path"] for f in t.snapshot().add_files()}
    assert before <= after  # other partitions untouched
    assert not any("p=p0" in f for f in after)
    assert sorted(r["p"] for r in t.toDF().select("p").distinct().collect()) == ["p1", "p2"]


def test_strip_alias_preserves_string_literals():
    from jodie_spark.tables.merge import _strip_alias_prefix

    got = _strip_alias_prefix("target.url = 'https://target.example/a'", "target")
    assert got == "url = 'https://target.example/a'"
    got = _strip_alias_prefix("target.a = 'it''s target.a' and target.b = 1", "target")
    assert got == "a = 'it''s target.a' and b = 1"


def test_truncate_stat_skips_surrogate_range():
    import json as _json

    from jodie_spark.tables.stats import _truncate_stat

    widened = _truncate_stat("a" * 31 + "퟿" + "tail beyond the limit", is_max=True)
    assert widened is not None and len(widened) == 32
    assert widened[-1] == ""  # not a lone surrogate
    _json.loads(_json.dumps(widened))  # round-trips as strict JSON


def _spark_keep(spark, adds, cond, schema, parts) -> list[bool]:
    """The Spark-side keep column over ``adds``, in row order (by index:
    ``_add`` gives every file the same path)."""
    from jodie_spark.tables.distribution import skipping_keep

    fdf = spark.createDataFrame(
        [(i, a["partitionValues"], a["stats"]) for i, a in enumerate(adds)],
        "idx int, partitionValues map<string,string>, stats string",
    )
    keep = skipping_keep(cond, schema, parts)
    return [r["k"] for r in fdf.select("idx", keep.alias("k")).orderBy("idx").collect()]


def test_uncastable_partition_value_agreement(spark):
    """A present-but-uncastable partition VALUE (foreign writer wrote
    'abc' into an int partition column) must be KEPT by both planners —
    the typed comparison is impossible, so pruning would silently drop
    rows (ADVICE r11). The Spark-side keep column must agree under ANSI
    mode too, where a cast of the malformed value would throw."""
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("p", T.IntegerType()),
    ])
    parts = ["p"]
    adds = [
        _add({"numRecords": 2, "minValues": {"id": 1}, "maxValues": {"id": 9},
              "nullCount": {"id": 0}}, {"p": "abc"}),   # uncastable
        _add({"numRecords": 2, "minValues": {"id": 1}, "maxValues": {"id": 9},
              "nullCount": {"id": 0}}, {"p": "3"}),     # castable
        {"path": "f.parquet", "partitionValues": {"p": None}, "stats": None},
    ]

    was_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for cond, expect in [
            ("p != 3", [True, False, False]),
            ("p not in (3, 4)", [True, False, False]),
            ("p = 3", [True, True, False]),
            ("p between 2 and 5", [True, True, False]),
            ("p in (3, 4)", [True, True, False]),
            ("p > 2", [True, True, False]),
            ("p is not null", [True, True, False]),
            ("p is null", [False, False, True]),
        ]:
            got = _spark_keep(spark, adds, cond, schema, parts)
            assert got == expect, f"spark planner {cond!r}: {got} != {expect}"
            cjs = [classify_conjunct(c, ["id", "p"]) for c in split_conjuncts(cond)]
            drv = [file_may_match(a, cjs, schema, parts) for a in adds]
            assert drv == expect, f"driver planner {cond!r}: {drv} != {expect}"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", str(was_ansi).lower())


def test_driver_and_spark_planners_agree(spark, tmpdir_path):
    """The adaptive planner's two sides (driver-side pruned_adds, the
    Spark-side keep column over files_df) must keep identical file sets
    for the same condition, and never prune a file holding a matching
    row."""
    import os

    import pyspark.sql.functions as F

    import jodie_spark.tables.table as tm
    from jodie_spark.tables.table import DeltaTable, write_delta

    path = os.path.join(tmpdir_path, "parity")
    df = spark.range(0, 100).selectExpr(
        "id",
        "cast(id % 7 as int) as i",
        "case when id % 10 = 0 then null else concat('s', id % 5) end as s",
        "cast(id % 3 as string) as p",
    )
    write_delta(df.repartition(6), path, partition_by=["p"])
    t = DeltaTable.forPath(spark, path)
    schema = t.schema()
    parts = ["p"]

    def plan(cond, force_spark):
        old = tm._DRIVER_PLAN_MAX_LOG_BYTES
        tm._DRIVER_PLAN_MAX_LOG_BYTES = 0 if force_spark else 1 << 40
        try:
            return sorted(
                a["path"]
                for a in tm.plan_candidate_files(spark, path, cond, schema, parts)
            )
        finally:
            tm._DRIVER_PLAN_MAX_LOG_BYTES = old

    conditions = [
        None,
        "id < 10",
        "id >= 95",
        "i = 3",
        "i = 99",
        "s = 's1'",
        "s is null",
        "s is not null",
        "p = '1'",
        "p = '9'",
        "p = '1' and id < 50",
        "i = 2 and s = 's4'",
        "id < 5 or id > 90",          # OR: both must keep everything
        "s = 'it''s'",                # quoted literal with escape
        "unknown_col = 7",            # unresolved: both keep everything
        "cast(id as string) = '3'",   # unsupported expr: conservative
        "id in (3, 4, 97)",           # IN on a stats column
        "p in ('0', '2')",            # IN on the partition column
        "i in (42)",                  # IN that matches nothing
        "s in ('s1', 's3')",          # IN on a nullable string column
        "id not in (1, 2)",           # NOT IN: conservative, keep all
        "p in ('1') and id < 50",     # IN combined with min/max
        "p != '1'",                   # partition not-equality
        "p not in ('0', '2')",        # partition NOT IN
        "p between '0' and '1'",      # partition BETWEEN
        "i between 2 and 4",          # stats BETWEEN
        "i = 'zzz'",                  # un-coercible literal: keep all
        "i != 'zzz'",                 # (ANSI would error the cast, so
        "i between 'zz' and 'zzz'",   #  both planners must skip the
        "i not in ('zzz')",           #  conjunct entirely — ADVICE r10)
        "i in ('zzz', 3)",
    ]
    for cond in conditions:
        d = plan(cond, force_spark=False)
        s = plan(cond, force_spark=True)
        assert d == s, f"planner divergence for {cond!r}: driver={d} spark={s}"
        # conservativeness: every file containing a matching row is kept
        if cond:
            kept = set(d)
            runnable = (
                "unknown" not in cond and "cast" not in cond
                and "zzz" not in cond  # ANSI errors on int-vs-string
            )
            matching_files = {
                r[0].replace(f"file:{path}/", "").replace(f"{path}/", "")
                for r in t.toDF()
                .withColumn("__f__", F.input_file_name())
                .filter(cond if runnable else "true")
                .select("__f__")
                .distinct()
                .collect()
            }
            import urllib.parse as _u

            kept_abs = {_u.unquote(k) for k in kept}
            for mf in matching_files:
                mf = _u.unquote(_u.unquote(mf))
                assert any(mf.endswith(k) or k.endswith(mf) for k in kept_abs), (
                    f"file {mf} with matches pruned under {cond!r}"
                )


def test_spark_plan_py4j_cost_independent_of_condition(spark, tmpdir_path, monkeypatch):
    """The Spark-side plan ships the condition to the tasks inside one
    Arrow UDF, so its py4j cost does not grow with the condition: a
    1-leaf and a 6-leaf AND/OR condition cost the same round trips."""
    from conftest import py4j_round_trips

    import jodie_spark.tables.table as tm
    from jodie_spark.tables.table import DeltaTable, write_delta

    path = os.path.join(tmpdir_path, "py4j_plan")
    df = spark.range(0, 40).selectExpr(
        "id", "concat('s', id % 3) as s", "cast(id % 2 as string) as p"
    )
    write_delta(df.repartition(4), path, partition_by=["p"])
    schema = DeltaTable.forPath(spark, path).schema()
    small = "id < 10"
    large = "(id < 3 or id > 30 or s = 's1') and (p = '1' or id >= 5) and s is not null"

    def cost(cond):
        def plan():
            tm.plan_candidate_files(spark, path, cond, schema, ["p"])

        plan()  # warm: the first plan pays one-time setup
        return py4j_round_trips(spark, plan)

    monkeypatch.setattr(tm, "_DRIVER_PLAN_MAX_LOG_BYTES", 0)  # force the Spark-side plan
    assert cost(small) == cost(large)


# ---------------------------------------------------------------------------
# IN-list predicates
# ---------------------------------------------------------------------------

def _in_add(path="f", stats=None, pv=None):
    import json as _json

    return {
        "path": path,
        "stats": _json.dumps(stats) if stats else None,
        "partitionValues": pv or {},
    }


def test_in_list_classifies():
    from pyspark.sql import types as T

    from jodie_spark.tables.pruning import classify_conjunct

    c = classify_conjunct("a in (1, 2, 3)", ["a"])
    assert c.kind == "in" and c.column == "a" and c.literal == [1, 2, 3]
    c = classify_conjunct("a in ('x', 'y')", ["a"])
    assert c.kind == "in" and c.literal == ["x", "y"]
    # NOT IN prunes single-valued/NULL files since round 10
    c = classify_conjunct("a not in (1, 2)", ["a"])
    assert c.kind == "not_in" and c.literal == [1, 2]
    # subquery bails out
    assert classify_conjunct("a in (select x from t)", ["a"]).kind == "other"
    # unresolved column
    assert classify_conjunct("z.a in (1)", ["a"]).kind == "unresolved"


def test_in_list_prunes_by_stats():
    from pyspark.sql import types as T

    from jodie_spark.tables.pruning import prune_files

    schema = T.StructType([T.StructField("a", T.LongType())])
    files = [
        _in_add("lo", {"numRecords": 5, "minValues": {"a": 1}, "maxValues": {"a": 9},
                    "nullCount": {"a": 0}}),
        _in_add("hi", {"numRecords": 5, "minValues": {"a": 100}, "maxValues": {"a": 200},
                    "nullCount": {"a": 0}}),
    ]
    out = prune_files(files, "a in (150, 300)", schema, [])
    assert [f["path"] for f in out] == ["hi"]
    # a value inside each range keeps both
    assert len(prune_files(files, "a in (5, 150)", schema, [])) == 2


def test_in_list_prunes_by_partition_value():
    from pyspark.sql import types as T

    from jodie_spark.tables.pruning import prune_files

    schema = T.StructType([T.StructField("cell", T.IntegerType())])
    files = [_in_add(f"c{i}", pv={"cell": str(i)}) for i in range(6)]
    out = prune_files(files, "cell in (1, 4)", schema, ["cell"])
    assert sorted(f["path"] for f in out) == ["c1", "c4"]


def test_in_list_with_quoted_or_inside_string_is_safe():
    from pyspark.sql import types as T

    from jodie_spark.tables.pruning import prune_files

    schema = T.StructType([T.StructField("s", T.StringType())])
    files = [_in_add("x", {"numRecords": 1, "minValues": {"s": "zzz"},
                        "maxValues": {"s": "zzz"}, "nullCount": {"s": 0}})]
    # ' or ' inside a quoted IN member must not break the split
    out = prune_files(files, "s in ('a or b', 'zzz')", schema, [])
    assert len(out) == 1


def test_datasource_translates_in_filter():
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual, In

    from jodie_spark.sources.datasource import _filters_to_condition

    sch = T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("nts", T.TimestampNTZType()),
        ]
    )
    cond = _filters_to_condition([In(("cell",), (1, 4))], sch)
    assert cond == "cell in (1, 4)"
    # string with embedded quote bails (filter skipped, never unsafe SQL)
    assert _filters_to_condition([In(("s",), ("a'b",))], sch) is None
    # TimestampType: aware values (Spark's real delivery) emit a UTC
    # offset literal; naive values are session-ambiguous and skipped
    aware = dt.datetime(2024, 1, 2, 3, 0, tzinfo=dt.timezone.utc)
    assert _filters_to_condition([GreaterThanOrEqual(("ts",), aware)], sch) == (
        "ts >= '2024-01-02 03:00:00+00:00'"
    )
    assert _filters_to_condition(
        [GreaterThanOrEqual(("ts",), dt.datetime(2024, 1, 2, 3, 0))], sch
    ) is None
    # TimestampNTZ: naive values are exact
    assert _filters_to_condition(
        [GreaterThanOrEqual(("nts",), dt.datetime(2024, 1, 2, 3, 0))], sch
    ) == "nts >= '2024-01-02 03:00:00'"


def test_planner_agreement_randomized(spark):
    """Seeded randomized sweep: the Spark-side keep column
    (distribution.skipping_keep), the arrow-columnar driver tier and a
    per-leaf file_may_match oracle must KEEP IDENTICAL file sets for
    random stats/partition-value adds — including NULL and uncastable
    partition values — across every conjunct kind (=, <, >=, !=, IN,
    NOT IN, BETWEEN, LIKE-prefix, IS [NOT] NULL), AND pairs, OR pairs
    and (a or b) and c. Deterministic (seed pinned); one files-DF
    evaluation per condition, not per add."""
    import json as _json
    import random

    from jodie_spark.tables.distribution import skipping_keep

    rng = random.Random(0xC0FFEE)
    schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("s", T.StringType()),
        T.StructField("p", T.IntegerType()),
    ])
    parts = ["p"]

    def rand_add(n):
        ints = [rng.randint(-20, 20) for _ in range(rng.randint(1, 4))]
        strs = [rng.choice(["a", "ab", "b", "bc", "c"]) for _ in range(len(ints))]
        nulls_i = rng.randint(0, 1)
        stats = {
            "numRecords": len(ints) + nulls_i,
            "minValues": {"i": min(ints), "s": min(strs)},
            "maxValues": {"i": max(ints), "s": max(strs)},
            "nullCount": {"i": nulls_i, "s": 0},
        }
        pv = rng.choice([str(rng.randint(0, 3)), None, "abc"])  # castable/NULL/uncastable
        return {
            "path": f"f{n}",
            "partitionValues": {"p": pv},
            "stats": _json.dumps(stats) if rng.random() > 0.1 else None,
        }

    adds = [rand_add(n) for n in range(60)]
    fdf = spark.createDataFrame(
        [(i, a["partitionValues"], a["stats"]) for i, a in enumerate(adds)],
        "idx int, partitionValues map<string,string>, stats string",
    ).cache()

    def rand_cond():
        col = rng.choice(["i", "s", "p"])
        lit = (
            rng.randint(-25, 25)
            if col in ("i", "p")
            else "'" + rng.choice(["a", "ab", "b", "zz"]) + "'"
        )
        kind = rng.choice(["cmp", "neq", "in", "notin", "between", "null", "notnull", "like"])
        if kind == "cmp":
            return f"{col} {rng.choice(['=', '<', '<=', '>', '>='])} {lit}"
        if kind == "neq":
            return f"{col} != {lit}"
        if kind == "in" or kind == "notin":
            vals = ", ".join(
                str(rng.randint(-25, 25)) if col in ("i", "p") else f"'{rng.choice(['a','b','c'])}'"
                for _ in range(rng.randint(1, 3))
            )
            return f"{col} {'not in' if kind == 'notin' else 'in'} ({vals})"
        if kind == "between":
            if col in ("i", "p"):
                lo = rng.randint(-25, 10); hi = lo + rng.randint(0, 15)
                return f"{col} between {lo} and {hi}"
            return f"{col} between 'a' and 'b'"
        if kind == "null":
            return f"{col} is null"
        if kind == "notnull":
            return f"{col} is not null"
        return f"{col} like '{rng.choice(['a', 'b'])}%'" if col == "s" else f"{col} = {lit}"

    columns = [f.name for f in schema.fields]

    def leaf_kept(cond: str) -> set[int]:
        cjs = [classify_conjunct(c, columns) for c in split_conjuncts(cond)]
        return {i for i, a in enumerate(adds) if file_may_match(a, cjs, schema, parts)}

    # (condition, oracle kept set): an OR keeps what either branch
    # keeps, an AND what both keep
    cases = []
    for _ in range(40):
        c = rand_cond()
        cases.append((c, leaf_kept(c)))
    for _ in range(10):
        x, y = rand_cond(), rand_cond()
        cases.append((f"({x}) and ({y})", leaf_kept(x) & leaf_kept(y)))
    for _ in range(10):
        x, y = rand_cond(), rand_cond()
        cases.append((f"({x}) or ({y})", leaf_kept(x) | leaf_kept(y)))
    for _ in range(5):
        x, y, z = rand_cond(), rand_cond(), rand_cond()
        cases.append(
            (f"(({x}) or ({y})) and ({z})", (leaf_kept(x) | leaf_kept(y)) & leaf_kept(z))
        )
    # third planner (r13): the arrow-columnar tier — the same adds as a
    # checkpoint-style struct base through _FileState.pruned_adds
    # (pruning_arrow mask + exact-evaluator survivors)
    import pyarrow as pa

    from jodie_spark.tables.log import _FileState

    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("stats", pa.string()),
        ]
    )
    base = pa.chunked_array(
        [
            pa.array(
                [
                    {
                        "path": a["path"],
                        "partitionValues": list(a["partitionValues"].items()),
                        "stats": a["stats"],
                    }
                    for a in adds
                ],
                add_t,
            )
        ]
    )
    for cond, drv_kept in cases:
        keep_col = skipping_keep(cond, schema, parts)
        spark_kept = {
            r["idx"] for r in fdf.select("idx", keep_col.alias("k")).collect() if r["k"]
        }
        assert spark_kept == drv_kept, (
            f"planner divergence for {cond!r}: spark-only="
            f"{sorted(spark_kept - drv_kept)} driver-only={sorted(drv_kept - spark_kept)}"
        )
        st = _FileState(base, {}, set())
        arrow_kept = {int(a["path"][1:]) for a in st.pruned_adds(cond, schema, parts)}
        assert arrow_kept == drv_kept, (
            f"arrow-tier divergence for {cond!r}: arrow-only="
            f"{sorted(arrow_kept - drv_kept)} driver-only={sorted(drv_kept - arrow_kept)}"
        )
    fdf.unpersist()
