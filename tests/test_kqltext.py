"""KQL text parser/runner (operators/kqltext.py): grammar units, the
reference's emitted queries VERBATIM, and loud-failure guarantees."""

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.operators.kqltext import KqlSyntaxError, run_kql


@pytest.fixture(scope="module")
def t(spark):
    events = spark.createDataFrame(
        [
            (1, "Error", "disk full on node-3", 10.0, '["a","b"]'),
            (2, "Warning", "retry scheduled", 5.0, '["c"]'),
            (3, "Error", "disk full on node-7", 7.5, "[]"),
            (4, "Information", "ok", 1.0, '["d","e","f"]'),
        ],
        "Id long, Level string, Text string, Value double, TagsJson string",
    )
    return {"Events": events}


def _rows(spark, q, t, **kw):
    return [tuple(r) for r in run_kql(spark, q, t, **kw).collect()]


def test_where_project_take(spark, t):
    out = _rows(
        spark,
        "Events | where Value >= 5 and Level == 'Error' "
        "| project Id, V=Value * 2 | sort by Id asc | take 5",
        t,
    )
    assert out == [(1, 20.0), (3, 15.0)]


def test_summarize_named_aggs_and_keys(spark, t):
    out = _rows(
        spark,
        "Events | summarize n=count(), Total=sum(Value) by Level "
        "| sort by Level asc",
        t,
    )
    assert out == [
        ("Error", 2, 17.5), ("Information", 1, 1.0), ("Warning", 1, 5.0),
    ]


def test_summarize_by_only_is_distinct_and_count_col(spark, t):
    assert _rows(spark, "Events | summarize by Level | count", t) == [(3,)]
    df = run_kql(spark, "Events | count", t)
    assert df.columns == ["Count"]


def test_string_predicates(spark, t):
    assert _rows(
        spark, "Events | where Text has 'disk' | project Id", t
    ) == [(1,), (3,)]
    # has is a TERM match: 'dis' is a prefix, not a term
    assert _rows(
        spark, "Events | where Text has 'dis' | project Id", t
    ) == []
    assert _rows(
        spark, "Events | where Text contains 'SCHED' | project Id", t
    ) == [(2,)]
    assert _rows(
        spark, "Events | where Level startswith 'err' | project Id", t
    ) == [(1,), (3,)]
    assert _rows(
        spark,
        "Events | where Text matches regex 'node-[0-9]+' | project Id",
        t,
    ) == [(1,), (3,)]
    assert _rows(
        spark,
        "Events | where Level in ('Error', 'Warning') | distinct Level "
        "| sort by Level asc",
        t,
    ) == [("Error",), ("Warning",)]
    assert _rows(
        spark, "Events | where Value between (5 .. 8) | project Id", t
    ) == [(2,), (3,)]
    assert _rows(
        spark, "Events | where Level =~ 'ERROR' | count", t
    ) == [(2,)]
    assert _rows(
        spark, "Events | where Text !has 'disk' | count", t
    ) == [(2,)]


def test_extend_case_iff_split_indexing(spark, t):
    out = _rows(
        spark,
        "Events | extend Sev=case(Level == 'Error', 2, Level == "
        "'Warning', 1, 0), Node=split(Text, ' ')[0] "
        "| project Id, Sev, Node | sort by Id asc | take 2",
        t,
    )
    assert out == [(1, 2, "disk"), (2, 1, "retry")]


def test_dynamic_path_and_mv_expand(spark, t):
    out = _rows(
        spark,
        "Events | extend Tags=todynamic(TagsJson) | mv-expand Tags "
        "| project Id, Tag=tostring(Tags) | sort by Id asc, Tag asc",
        t,
    )
    # KQL mv-expand drops empty arrays (Id 3)
    assert out == [
        (1, "a"), (1, "b"), (2, "c"), (4, "d"), (4, "e"), (4, "f"),
    ]


def test_join_and_union(spark, t):
    lookup = t["Events"].sparkSession.createDataFrame(
        [("Error", 1), ("Warning", 2)], "Level string, Code int"
    )
    tables = dict(t, Lookup=lookup)
    out = _rows(
        spark,
        "Events | join kind=inner (Lookup) on Level "
        "| summarize n=count() by Code | sort by Code asc",
        tables,
    )
    assert out == [(1, 2), (2, 1)]
    assert _rows(
        spark,
        "Events | where Id == 1 | project Id "
        "| union (Events | where Id == 4 | project Id) | sort by Id asc",
        tables,
    ) == [(1,), (4,)]


def test_range_print_let(spark, t):
    assert _rows(spark, "range x from 0 to 4 step 2 | count", t) == [(3,)]
    assert _rows(spark, "print a = 1 + 2 * 3, b = strcat('x', 'y')", t) == [
        (7, "xy")
    ]
    assert _rows(
        spark, "let thr = 6; Events | where Value > thr | project Id", t
    ) == [(1,), (3,)]
    # tabular let
    assert _rows(
        spark,
        "let E = Events | where Level == 'Error'; E | count",
        t,
    ) == [(2,)]


def test_timespan_and_datetime(spark, t):
    out = run_kql(
        spark,
        "range i from 0 to 2 step 1 "
        "| extend ts = datetime('2024-03-01 00:00:00') + 30m * i",
        t,
    ).collect()
    assert [str(r.ts) for r in out] == [
        "2024-03-01 00:00:00",
        "2024-03-01 00:30:00",
        "2024-03-01 01:00:00",
    ]
    binned = run_kql(
        spark,
        "range i from 0 to 3 step 1 "
        "| extend ts = datetime('2024-03-01 00:00:00') + 40m * i "
        "| extend b = bin(ts, 1h) | summarize n=count() by b | sort by b asc",
        t,
    ).collect()
    assert [r.n for r in binned] == [2, 1, 1]


def test_top_and_default_sort_desc(spark, t):
    assert _rows(spark, "Events | top 2 by Value | project Id", t) == [
        (1,), (3,)
    ]
    # KQL sort defaults to DESC
    assert _rows(spark, "Events | sort by Value | project Id | take 1", t) == [
        (1,)
    ]


def test_verbatim_reference_policy_query(spark):
    """EtlRun.cs:150-159's partition-policy introspection pipeline runs
    VERBATIM (the `.show` control-command head replaced by the table it
    produces): todynamic path access, variant mv-expand, Kind filter,
    typed projections."""
    policy_json = (
        '{"PartitionKeys":[{"ColumnName":"o_orderpriority","Kind":"Hash",'
        '"Properties":{"MaxPartitionCount":8,"Seed":42,"Function":'
        '"XxHash64"}},{"ColumnName":"ts","Kind":"UniformRange",'
        '"Properties":{}}]}'
    )
    pol = spark.createDataFrame([(policy_json,)], "Policy string")
    q = """
PolicyTable
| project Keys=todynamic(Policy).PartitionKeys
| mv-expand Keys
| where Keys.Kind=="Hash"
| project
    ColumnName=tostring(Keys.ColumnName),
    MaxPartitionCount = toint(Keys.Properties.MaxPartitionCount),
    Seed = toint(Keys.Properties.Seed)"""
    rows = run_kql(spark, q, {"PolicyTable": pol}).collect()
    assert [tuple(r) for r in rows] == [("o_orderpriority", 8, 42)]


def test_verbatim_reference_shard_tracking_queries(spark):
    """TestBase.cs:305-332's two shard-tracking queries run VERBATIM,
    with extent_tags()/extent_id() bound to this engine's lineage
    columns via the functions= hook."""
    data = spark.createDataFrame(
        [(i, i % 3, i % 3 == 2) for i in range(30)],
        "v long, _kpf_shard_id int, _kpf_last_shard boolean",
    )
    fns = {
        "extent_tags": lambda: F.filter(
            F.array(
                F.concat(
                    F.lit("kpf-shard-id:"),
                    F.col("_kpf_shard_id").cast("string"),
                ),
                F.when(F.col("_kpf_last_shard"), F.lit("kpf-last-shard")),
            ),
            lambda x: x.isNotNull(),
        ),
        "extent_id": lambda: F.col("_kpf_shard_id"),
    }
    q_cardinality = """
Data
| summarize Tags=take_any(extent_tags()) by ExtentId=extent_id()
| mv-expand Tags
| where Tags has "kpf-shard-id"
| project ShardId=split(Tags, ":")[1]
| summarize Cardinality=toint(count())"""
    r = run_kql(spark, q_cardinality, {"Data": data}, functions=fns)
    assert r.collect()[0]["Cardinality"] == 3
    q_total = """
Data
| summarize Tags=take_any(extent_tags()) by ExtentId=extent_id()
| where Tags has "kpf-last-shard"
| mv-expand Tags
| where Tags has "kpf-shard-id"
| project ShardCount=toint(split(Tags,':')[1])"""
    r = run_kql(spark, q_total, {"Data": data}, functions=fns)
    assert r.collect()[0]["ShardCount"] == 2


def test_catalyst_sees_through_the_parser(spark, t):
    """Parsed plans are ordinary Catalyst plans: a where on a parquet
    scan must reach PushedFilters — the parser is compile-time only."""
    import os

    path = "/root/testdata/sf0.001/orders.parquet"
    if not os.path.exists(path):
        pytest.skip("testdata missing")
    df = run_kql(
        spark,
        "orders | where o_totalprice > 400000 | project o_orderkey",
        {"orders": spark.read.parquet(path)},
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_totalprice" in plan


def test_loud_failures(spark, t):
    # python/narrow/bag_unpack are BOUND — a plugin this engine will
    # never bind (external DB calls) still refuses by name
    with pytest.raises(KqlSyntaxError, match="unsupported"):
        run_kql(spark, "Events | evaluate sql_request()", t)
    # bare narrow() needs the serialize order pinned, like row_number
    with pytest.raises(KqlSyntaxError, match="sort"):
        run_kql(spark, "Events | evaluate narrow()", t)
    # and a malformed python() call fails loudly at the typeof spec
    with pytest.raises(KqlSyntaxError, match="typeof"):
        run_kql(spark, "Events | evaluate python(1)", t)
    # lookup is bound (round-12) — an unknown dim table still refuses
    with pytest.raises(KqlSyntaxError, match="unknown table"):
        run_kql(spark, "Events | lookup something on Id", t)
    # facet was bound round-13; a name that is not a KQL operator at all
    # still hits the unsupported-operator refusal
    with pytest.raises(KqlSyntaxError, match="unsupported operator"):
        run_kql(spark, "Events | frobnicate by Level", t)
    with pytest.raises(KqlSyntaxError, match="unsupported function"):
        run_kql(spark, "Events | extend x = no_such_fn(1)", t)
    with pytest.raises(KqlSyntaxError, match="unknown table"):
        run_kql(spark, "NoSuchTable | count", t)
    with pytest.raises(KqlSyntaxError):
        run_kql(spark, "Events | where (Value > ", t)


def test_arg_max_and_dcountif(spark, t):
    out = _rows(
        spark,
        "Events | summarize worst=arg_max(Value, Text), "
        "kinds=dcountif(Level, Value > 2) by x=1",
        t,
    )
    assert out == [(1, "disk full on node-3", 2)]


def test_verbatim_generate_log_data_function(spark):
    """The reference's THIRD emitted KQL artifact — the GenerateLogData
    stored function (deployment/infra/schema.kql:1-23) — runs VERBATIM
    (one edit: IdRange scaled to the test box), exercising
    .create-or-alter stripping, dynamic([...]) literals, toscalar over
    a subquery, scalar range(), mv-apply ... to typeof ... on (...),
    rand(n), computed array indexing, timespan*expr datetime
    arithmetic, and case(). The assertions are the reference's OWN test
    invariants (NoHeaderNoCompressionTest.cs:46-50)."""
    import os

    path = "/root/reference/deployment/infra/schema.kql"
    if not os.path.exists(path):
        pytest.skip("reference not mounted")
    text = open(path).read().replace(
        "let IdRange = 10000000;", "let IdRange = 500;"
    )
    df = run_kql(spark, text).cache()
    n = df.count()
    stats = df.agg(
        F.countDistinct("Id").alias("ids"),
        F.countDistinct("Timestamp").alias("ts"),
        F.countDistinct("Level").alias("levels"),
        F.countDistinct("Node").alias("nodes"),
        F.countDistinct("ActivityId").alias("acts"),
        F.min(F.length("Text")).alias("minlen"),
        F.max(F.length("Text")).alias("maxlen"),
    ).collect()[0]
    df.unpersist()
    assert n == 500 and stats["ids"] == n and stats["ts"] == n
    assert stats["levels"] == 3
    assert stats["nodes"] <= 25 and stats["acts"] <= 25
    assert stats["minlen"] >= 30 and stats["maxlen"] <= 151
    assert set(df.columns) == {
        "Id", "Timestamp", "Level", "Node", "ActivityId", "Text",
    }


def test_mv_apply_non_aggregating(spark, t):
    """mv-apply with a non-aggregating subpipeline = filtered expansion
    keeping the original columns."""
    out = _rows(
        spark,
        "Events | extend A=todynamic(TagsJson) | mv-expand A "
        "| project Id, A=tostring(A) | summarize Arr=make_list(A) by Id "
        "| mv-apply E=Arr to typeof(string) on (where E != 'a') "
        "| project Id, E=tostring(E) | sort by Id asc, E asc",
        t,
    )
    assert out == [(1, "b"), (2, "c"), (4, "d"), (4, "e"), (4, "f")]


def test_dynamic_literal_and_computed_index(spark, t):
    out = _rows(
        spark,
        "range i from 0 to 3 step 1 "
        "| extend L = dynamic(['w', 'x', 'y', 'z'])[i] | project L",
        t,
    )
    assert out == [("w",), ("x",), ("y",), ("z",)]


def test_toscalar_subquery(spark, t):
    assert _rows(
        spark,
        "let m = toscalar(Events | summarize max(Value)); "
        "Events | where Value == m | project Id",
        t,
    ) == [(1,)]


def test_search_getschema_parse(spark, t):
    assert _rows(spark, "Events | search 'DISK' | project Id", t) == [
        (1,), (3,)
    ]
    sch = _rows(spark, "Events | getschema | project ColumnName", t)
    assert ("Level",) in sch and len(sch) == 5
    out = _rows(
        spark,
        "Events | parse Text with 'disk full on node-' N:int "
        "| where isnotnull(N) | project Id, N | sort by Id asc",
        t,
    )
    assert out == [(1, 3), (3, 7)]
    # parse-where drops the non-matching rows entirely
    assert _rows(
        spark,
        "Events | parse-where Text with 'disk full on node-' N:int "
        "| count",
        t,
    ) == [(2,)]


def test_evaluate_pivot(spark, t):
    out = run_kql(
        spark,
        "Events | evaluate pivot(Level, sum(Value))",
        t,
    ).collect()[0]
    assert out["Error"] == 17.5 and out["Warning"] == 5.0
    with pytest.raises(KqlSyntaxError, match="unsupported evaluate"):
        run_kql(spark, "Events | evaluate sql_request()", t)


def test_make_series(spark, t):
    tbl = {
        "M": spark.createDataFrame(
            [
                ("2024-01-01 00:10:00", "a", 1.0),
                ("2024-01-01 00:50:00", "a", 2.0),
                # hour 1 empty for key a -> default 0 fills it
                ("2024-01-01 02:20:00", "a", 4.0),
                ("2024-01-01 00:30:00", "b", 7.0),
            ],
            "Ts string, K string, V double",
        ).selectExpr("CAST(Ts AS TIMESTAMP) AS Ts", "K", "V")
    }
    out = _rows(
        spark,
        "M | make-series Total=sum(V) default=0 on Ts step 1h by K "
        "| sort by K asc, Ts asc",
        tbl,
    )
    assert [(k, str(ts), v) for k, ts, v in out] == [
        ("a", "2024-01-01 00:00:00", 3.0),
        ("a", "2024-01-01 01:00:00", 0.0),
        ("a", "2024-01-01 02:00:00", 4.0),
        ("b", "2024-01-01 00:00:00", 7.0),
        ("b", "2024-01-01 01:00:00", 0.0),
        ("b", "2024-01-01 02:00:00", 0.0),
    ]


def test_externaldata(spark, t, tmp_path):
    p = tmp_path / "ext.csv"
    p.write_text("Id,Name,Score\n1,alpha,2.5\n2,beta,9.0\n")
    out = _rows(
        spark,
        f"externaldata (Id:long, Name:string, Score:real) ['{p}'] "
        "with (format='csv', ignoreFirstRecord=true) "
        "| where Score > 3 | project Id, Name",
        t,
    )
    assert out == [(2, "beta")]


def test_externaldata_csv_quoted_fields_match_read_landing(spark, t, tmp_path):
    """Quoted separators, doubled quotes and quoted newlines parse as one
    field each, exactly as read_landing reads the same file."""
    from kusto_pre_forge_spark.config import DataFormat, RunSettings
    from kusto_pre_forge_spark.sources.blob import read_landing

    p = tmp_path / "quoted.csv"
    p.write_text('1,"a, ""quoted"" b"\n2,"line one\nline two"\n3,plain\n')
    want = [(1, 'a, "quoted" b'), (2, "line one\nline two"), (3, "plain")]
    out = _rows(
        spark,
        f"externaldata (id:long, s:string) ['{p}'] with (format='csv') "
        "| sort by id asc",
        t,
    )
    assert out == want
    landed = read_landing(
        spark,
        [str(p)],
        RunSettings(fmt=DataFormat.CSV, csv_headers=False),
        schema="id long, s string",
    )
    assert sorted((r.id, r.s) for r in landed.collect()) == want


def test_serialize_row_functions(spark, t):
    out = _rows(
        spark,
        "Events | sort by Id asc | serialize "
        "| extend rn=row_number(), p=prev(Value), c=row_cumsum(Value) "
        "| project Id, rn, p, c",
        t,
    )
    assert out == [
        (1, 1, None, 10.0),
        (2, 2, 10.0, 15.0),
        (3, 3, 5.0, 22.5),
        (4, 4, 7.5, 23.5),
    ]
    with pytest.raises(KqlSyntaxError, match="serialize requires"):
        run_kql(spark, "Events | serialize", t)


def test_has_any_has_all_and_datetime_parts(spark, t):
    assert _rows(
        spark,
        "Events | where Text has_any ('retry', 'ok') | project Id "
        "| sort by Id asc",
        t,
    ) == [(2,), (4,)]
    assert _rows(
        spark,
        "Events | where Text has_all ('disk', 'full') | count",
        t,
    ) == [(2,)]
    out = _rows(
        spark,
        "print d = dayofweek(datetime('2024-03-04 10:30:00')), "
        "m = getmonth(datetime('2024-03-04 10:30:00')), "
        "h = hourofday(datetime('2024-03-04 10:30:00')), "
        "w = startofweek(datetime('2024-03-06 10:30:00')), "
        "dd = datetime_diff('day', datetime('2024-03-10 00:00:00'), "
        "datetime('2024-03-04 00:00:00'))",
        t,
    )
    d, m, h, w, dd = out[0]
    assert (m, h, dd) == (3, 10, 6)
    assert d == 1  # 2024-03-04 is a Monday; KQL dayofweek Sunday=0
    assert str(w) == "2024-03-04 00:00:00"  # Spark weeks start Monday


def test_verbatim_export_command(spark, t, tmp_path):
    """The reference's FIFTH emitted KQL artifact — the .export script
    (TestBase.cs:397-408) — runs in the emitted shape: async/compressed
    flags, a connection-string group (parsed, ignored — namePrefix is
    the output path here), the with-options block, and the `<|` query
    tail. Reads the export back and checks rows + header."""
    prefix = str(tmp_path / "export_out")
    script = f'''
.export async to csv (
    @"https://account.blob.example/container;impersonate"
  )
  with (
    sizeLimit=1000000000,
    namePrefix="{prefix}",
    distribution="single",
    includeHeaders="all"
  )
  <| 
  Events | where Level == 'Error' | project Id, Level | sort by Id asc'''
    df = run_kql(spark, script, t)
    assert df.count() == 2
    back = spark.read.option("header", "true").csv(prefix)
    assert sorted(int(r.Id) for r in back.collect()) == [1, 3]
    assert back.columns == ["Id", "Level"]
    import glob

    assert len(glob.glob(prefix + "/part-*.csv")) == 1  # single


def test_verbatim_show_policy_pipeline_whole(spark):
    """EtlRun.cs:150-164's BOTH emitted control-command pipelines run
    WHOLE — `.show table … policy partitioning | project …` answered
    from this engine's catalog (no head replacement needed), and
    `.show table … | project AttributeName`."""
    from kusto_pre_forge_spark.catalog import (
        Catalog,
        LOG_EVENTS_SCHEMA,
        PartitionPolicy,
        TableDef,
    )

    cat = Catalog()
    cat.register(
        TableDef(
            "LogTable",
            LOG_EVENTS_SCHEMA,
            PartitionPolicy("Node", 16, 7),
        )
    )
    q = """
.show table LogTable policy partitioning
| project Keys=todynamic(Policy).PartitionKeys
| mv-expand Keys
| where Keys.Kind=="Hash"
| project
    ColumnName=tostring(Keys.ColumnName),
    MaxPartitionCount = toint(Keys.Properties.MaxPartitionCount),
    Seed = toint(Keys.Properties.Seed)"""
    rows = run_kql(spark, q, catalog=cat).collect()
    assert [tuple(r) for r in rows] == [("Node", 16, 7)]
    q2 = """
.show table LogTable
| project AttributeName"""
    cols = [r.AttributeName for r in run_kql(spark, q2, catalog=cat).collect()]
    assert cols == ["Id", "Timestamp", "Level", "Node", "ActivityId", "Text"]


def test_union_trailing_stages_apply_to_union_result(spark, t):
    # `A | union B | count` counts the UNION (4+4=8 rows), not B —
    # the trailing stage belongs to the outer pipeline, not to B
    assert _rows(spark, "Events | union Events | count", t) == [(8,)]
    assert _rows(
        spark,
        "Events | where Id == 1 | project Id "
        "| union (Events | where Id == 4 | project Id) | count",
        t,
    ) == [(2,)]
    # `| where` after union filters the union result (both sides)
    assert _rows(
        spark,
        "Events | project Id | union (Events | project Id) "
        "| where Id <= 2 | count",
        t,
    ) == [(4,)]
    # comma-form multi-table union
    assert _rows(spark, "Events | union Events, Events | count", t) == [(12,)]


def test_sort_order_is_pipeline_scoped(spark, t):
    # a `sort by` inside a join/union subquery must NOT satisfy the
    # outer pipeline's serialize requirement
    with pytest.raises(KqlSyntaxError, match="serialize"):
        run_kql(
            spark,
            "Events | union (Events | sort by Id asc) | serialize "
            "| extend rn = row_number()",
            t,
        )
    with pytest.raises(KqlSyntaxError, match="serialize"):
        run_kql(
            spark,
            "Events | join kind=inner (Events | sort by Id asc "
            "| project Id) on Id | serialize | extend rn = row_number()",
            t,
        )
    # and the legitimate outer-sort form still works
    out = _rows(
        spark,
        "Events | sort by Id asc | serialize "
        "| extend rn = row_number() | project Id, rn | take 2",
        t,
    )
    assert out == [(1, 1), (2, 2)]


def test_rand_n_is_discrete_integer_valued(spark, t):
    rows = _rows(
        spark,
        "range x from 1 to 200 step 1 | extend r = rand(3) | project r",
        t,
    )
    vals = {v for (v,) in rows}
    assert vals <= {0.0, 1.0, 2.0}
    assert len(vals) > 1  # actually uniform-ish, not constant


def test_evaluate_plugin_family_and_lookup(spark, t):
    """The plugin family binds to the library implementations: basket /
    autocluster / diffpatterns / ipv4_lookup, plus the lookup operator
    (broadcast dimension join); unbound plugins still refuse loudly."""
    rows = [
        ("web", "us", "10.0.0.5"),
        ("web", "us", "10.0.0.9"),
        ("web", "eu", "192.168.1.3"),
        ("db", "us", "10.0.0.7"),
    ]
    traffic = spark.createDataFrame(
        rows, "svc string, region string, ip string"
    )
    cidrs = spark.createDataFrame(
        [("10.0.0.0/24", "corp"), ("192.168.0.0/16", "lab")],
        "network string, zone string",
    )
    tables = dict(t, Traffic=traffic, Cidrs=cidrs)
    # basket: (svc=web) support 3/4, (svc=web, region=us) 2/4 …
    out = run_kql(
        spark,
        "Traffic | project svc, region | evaluate basket(0.5)",
        tables,
    ).collect()
    itemsets = {r[0] for r in out}
    assert "svc=web" in itemsets and "region=us" in itemsets
    # autocluster: top segments over the two columns
    seg = run_kql(
        spark,
        "Traffic | project svc, region | evaluate autocluster(0.5)",
        tables,
    )
    assert {"svc", "region"} <= set(seg.columns)
    assert seg.count() >= 1
    # diffpatterns: cohorts by region us vs eu over svc
    dp = run_kql(
        spark,
        "Traffic | project svc, region "
        "| evaluate diffpatterns(region, 'us', 'eu')",
        tables,
    ).collect()
    bysvc = {r["svc"]: r for r in dp if r["svc"] is not None}
    assert bysvc["db"]["count_a"] == 1 and bysvc["db"]["count_b"] == 0
    # ipv4_lookup: CIDR containment annotation (broadcast non-equi)
    ipl = run_kql(
        spark,
        "Traffic | evaluate ipv4_lookup(Cidrs, ip) "
        "| summarize n=count() by zone | sort by zone asc",
        tables,
    ).collect()
    assert [(r["zone"], r["n"]) for r in ipl] == [("corp", 3), ("lab", 1)]
    # lookup operator: dimension join with broadcast hint
    dim = spark.createDataFrame(
        [("web", "frontline"), ("db", "stateful")], "svc string, tier string"
    )
    lk = run_kql(
        spark,
        "Traffic | lookup (Dim) on svc | summarize n=count() by tier "
        "| sort by tier asc",
        dict(tables, Dim=dim),
    ).collect()
    assert [(r["tier"], r["n"]) for r in lk] == [("frontline", 3), ("stateful", 1)]
    # bare-table-name right side + kind=inner
    lk2 = run_kql(
        spark, "Traffic | lookup kind=inner Dim on svc | count",
        dict(tables, Dim=dim),
    ).collect()
    assert lk2[0][0] == 4
    # still-unbound plugins refuse loudly by name
    with pytest.raises(KqlSyntaxError, match="sql_request"):
        run_kql(spark, "Traffic | evaluate sql_request()", tables)


def test_datatable_literal_source(spark, t):
    out = _rows(
        spark,
        "datatable(name:string, n:long, ok:bool) [\n"
        "  'alpha', 3, true,\n"
        "  'beta', 5, false,\n"
        "  'gamma', 2, true,\n"  # trailing comma tolerated
        "] | where ok | summarize total=sum(n)",
        t,
    )
    assert out == [(5,)]
    # let-bound datatable joins against real tables
    out = _rows(
        spark,
        "let Dim = datatable(Level:string, code:int) "
        "['Error', 9, 'Warning', 5];\n"
        "Events | lookup kind=inner Dim on Level "
        "| summarize n=count() by code | sort by code asc",
        t,
    )
    assert out == [(5, 1), (9, 2)]
    # empty datatable is a valid empty relation
    assert _rows(spark, "datatable(x:int) [] | count", t) == [(0,)]
    with pytest.raises(KqlSyntaxError, match="multiple"):
        run_kql(spark, "datatable(x:int, y:int) [1, 2, 3] | count", t)


def test_parse_kv(spark, t):
    logs = spark.createDataFrame(
        [
            (1, 'ts=2024-01-01 level=error code=503 msg="disk full" host=n3'),
            (2, "level=warn code=301 host=n7"),
            (3, "unrelated text entirely"),
        ],
        "Id long, Line string",
    )
    tables = dict(t, Logs=logs)
    out = run_kql(
        spark,
        "Logs | parse-kv Line as (level: string, code: int, msg: string) "
        "with (pair_delimiter=' ', kv_delimiter='=', quote='\"') "
        "| project Id, level, code, msg | sort by Id asc",
        tables,
    ).collect()
    assert [tuple(r) for r in out] == [
        (1, "error", 503, "disk full"),
        (2, "warn", 301, None),
        (3, None, None, None),
    ]
    # comma-delimited dialect without quoting
    csvish = spark.createDataFrame(
        [(1, "a=1,b=two,c=3.5")], "Id long, Line string"
    )
    out = run_kql(
        spark,
        "KV | parse-kv Line as (a: long, c: real) "
        "with (pair_delimiter=',', kv_delimiter='=') | project a, c",
        dict(t, KV=csvish),
    ).collect()
    assert [tuple(r) for r in out] == [(1, 3.5)]
    with pytest.raises(KqlSyntaxError, match="single"):
        run_kql(
            spark,
            "Logs | parse-kv Line as (a: int) with (pair_delimiter='::')",
            tables,
        )


def test_scalar_function_batch_round12(spark, t):
    out = _rows(
        spark,
        "print a = indexof('hello world', 'world'), "
        "b = indexof('hello', 'zzz'), "
        "c = countof('a,b,c,d', ','), "
        "d = reverse('abc'), e = strrep('xy', 3), "
        "f = strcat_delim('-', 'a', 'b', 'c'), "
        "g = translate('abc', 'xyz', 'aabbcc'), "
        "h = base64_decode_tostring(base64_encode_tostring('kql ✓')), "
        "i = tohex(255), j = sign(-3.5), k = log10(1000.0), "
        "l = iif(1 > 0, 'yes', 'no'), "
        "m = hash_sha256('abc')",
        t,
    )
    (a, b, c, d, e, f, g, h, i, j, k, l, m), = out
    assert (a, b, c) == (6, -1, 3)
    assert (d, e, f, g) == ("cba", "xyxyxy", "a-b-c", "xxyyzz")
    assert h == "kql ✓" and i == "ff"
    assert (j, k, l) == (-1.0, 3.0, "yes")
    # FIPS 180-2 test vector for sha256("abc")
    assert m == (
        "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    )


def test_top_nested(spark, t):
    sales = spark.createDataFrame(
        [
            ("eu", "de", 10), ("eu", "de", 20), ("eu", "fr", 25),
            ("eu", "es", 1), ("us", "ca", 40), ("us", "ny", 5),
            ("us", "tx", 30), ("ap", "jp", 2),
        ],
        "region string, state string, amount long",
    )
    out = _rows(
        spark,
        "Sales | top-nested 2 of region by total=sum(amount), "
        "top-nested 1 of state by sub=sum(amount) "
        "| sort by region asc",
        dict(t, Sales=sales),
    )
    # top 2 regions by total: us=75, eu=56; within each, the top state
    # (eu: de=30 beats fr=25; us: ca=40 beats tx=30)
    assert out == [("eu", 56, "de", 30), ("us", 75, "ca", 40)]
    # single-level form == plain top by aggregate
    out = _rows(
        spark,
        "Sales | top-nested 1 of region by n=count() | project region, n",
        dict(t, Sales=sales),
    )
    assert out == [("eu", 4)]


def test_case_sensitive_predicate_variants_and_render(spark, t):
    # has is case-insensitive; has_cs is not
    assert _rows(spark, "Events | where Text has 'DISK' | count", t) == [(2,)]
    assert _rows(spark, "Events | where Text has_cs 'DISK' | count", t) == [(0,)]
    assert _rows(spark, "Events | where Text has_cs 'disk' | count", t) == [(2,)]
    # startswith_cs / endswith_cs
    assert _rows(
        spark, "Events | where Level startswith_cs 'err' | count", t
    ) == [(0,)]
    assert _rows(
        spark, "Events | where Level startswith_cs 'Err' | count", t
    ) == [(2,)]
    assert _rows(
        spark, "Events | where Level endswith_cs 'ROR' | count", t
    ) == [(0,)]
    assert _rows(
        spark, "Events | where Level endswith 'ROR' | count", t
    ) == [(2,)]
    # render is a parsed no-op: dashboards end almost every query with it
    assert _rows(
        spark,
        "Events | summarize n=count() by Level | sort by Level asc "
        "| render barchart with (title='sev mix', ymin=0)",
        t,
    ) == [("Error", 2), ("Information", 1), ("Warning", 1)]


def test_materialize_source_pins_one_evaluation(spark, t):
    # materialize(subquery) is a SOURCE: usable in a let and inline;
    # results identical to the unmaterialized pipeline
    out = _rows(
        spark,
        "let src = materialize(Events | where Value >= 5);\n"
        "src | summarize n=count()",
        t,
    )
    assert out == [(3,)]
    out2 = _rows(
        spark,
        "materialize(Events | project Id) | count",
        t,
    )
    assert out2 == [(4,)]


def test_fork_branch_labeled_union(spark, t):
    # each branch runs over ONE evaluation of the source; output is
    # the branch-labeled union (_kpf_fork; unnamed branches fork_<i>)
    df = run_kql(
        spark,
        "Events\n"
        "| fork (errs = where Level == 'Error' | summarize n=count())\n"
        "       (summarize total=sum(Value))",
        t,
    )
    rows = {r._kpf_fork: r for r in df.collect()}
    assert set(rows) == {"errs", "fork_1"}
    assert rows["errs"].n == 2 and rows["errs"].total is None
    assert rows["fork_1"].total == 23.5 and rows["fork_1"].n is None


def test_fork_needs_a_branch(spark, t):
    with pytest.raises(KqlSyntaxError, match="fork"):
        run_kql(spark, "Events | fork", t)


def test_evaluate_python_star_and_typed_outputs(spark, t):
    # typeof(*, new:type) expands * to the input schema; the script
    # sees the Arrow batch as `df` and binds `result`
    out = _rows(
        spark,
        "Events\n"
        "| evaluate python(typeof(*, vlen:long),"
        " 'result = df.assign(vlen=df[\"Text\"].str.len())')\n"
        "| summarize s=sum(vlen)",
        t,
    )
    assert out == [(sum(len(x) for x in
                        ("disk full on node-3", "retry scheduled",
                         "disk full on node-7", "ok")),)]
    # explicit (non-*) output schema projects exactly the named columns
    out2 = _rows(
        spark,
        "Events\n"
        "| evaluate python(typeof(Id:long, double_v:real),"
        " 'result = pd.DataFrame({\"Id\": df[\"Id\"],"
        " \"double_v\": df[\"Value\"] * 2})')\n"
        "| sort by Id asc",
        t,
    )
    assert out2 == [(1, 20.0), (2, 10.0), (3, 15.0), (4, 2.0)]


def test_evaluate_python_refusals(spark, t):
    with pytest.raises(KqlSyntaxError, match="output type"):
        run_kql(
            spark,
            "Events | evaluate python(typeof(x:widget), 'result = df')",
            t,
        )
    with pytest.raises(KqlSyntaxError, match="literal"):
        run_kql(
            spark,
            "Events | evaluate python(typeof(x:long), 1 + 2)",
            t,
        )


def test_facet_by_branch_labeled_union(spark, t):
    df = run_kql(spark, "Events | facet by Level", t)
    rows = sorted(
        (r._kpf_facet, r.value, r.count_) for r in df.collect()
    )
    assert rows == [
        ("Level", "Error", 2), ("Level", "Information", 1),
        ("Level", "Warning", 1),
    ]
    # multiple facet columns + the `with` clause's own table
    df2 = run_kql(
        spark,
        "Events | facet by Level, Id with (summarize hi=count())",
        t,
    )
    got = [r for r in df2.collect()]
    assert {r._kpf_facet for r in got} == {"Level", "Id", "_with"}
    ids = sorted(r.value for r in got if r._kpf_facet == "Id")
    assert ids == ["1", "2", "3", "4"]  # values stringify to union
    w = [r for r in got if r._kpf_facet == "_with"]
    assert len(w) == 1 and w[0].hi == 4 and w[0].value is None


def test_top_hitters_exact_with_adx_names(spark, t):
    out = _rows(spark, "Events | top-hitters 2 of Level", t)
    assert out == [("Error", 2), ("Information", 1)]
    df = run_kql(spark, "Events | top-hitters 1 of Level by Value", t)
    assert df.columns == ["Level", "approximate_sum_Value"]
    assert [tuple(r) for r in df.collect()] == [("Error", 17.5)]


def test_as_binds_query_scoped_alias(spark, t):
    # `as` makes the pipeline-so-far addressable as a source later in
    # the SAME query (here: via toscalar over the alias)
    out = _rows(
        spark,
        "Events | where Value > 4 | as hint.materialized=true Big\n"
        "| summarize n=count()\n"
        "| extend tot = toscalar(Big | summarize sum(Value))",
        t,
    )
    assert out == [(3, 22.5)]
    out2 = _rows(
        spark,
        "Events | as E2 | count",
        t,
    )
    assert out2 == [(4,)]


def test_sample_and_sample_distinct(spark, t):
    # ADX sample is "any N rows" by contract — assert count + subset
    got = run_kql(spark, "Events | sample 2", t).collect()
    assert len(got) == 2 and {r.Id for r in got} <= {1, 2, 3, 4}
    sd = run_kql(spark, "Events | sample-distinct 2 of Level", t).collect()
    vals = {r.Level for r in sd}
    assert len(sd) == 2 == len(vals)
    assert vals <= {"Error", "Warning", "Information"}
    # N beyond cardinality returns all distinct values
    all3 = run_kql(spark, "Events | sample-distinct 9 of Level", t).collect()
    assert {r.Level for r in all3} == {"Error", "Warning", "Information"}


def test_pivot_bare_default_count(spark, t):
    # pivot(Col) with no aggregation: count(), remaining cols group
    df = run_kql(
        spark,
        "Events | project Level | extend g = 1 | evaluate pivot(Level)",
        t,
    )
    assert df.columns == ["g", "Error", "Information", "Warning"]
    assert [tuple(r) for r in df.collect()] == [(1, 2, 1, 1)]


def test_top_nested_with_others(spark):
    ev = spark.createDataFrame(
        [("a", 10.0), ("b", 5.0), ("c", 3.0), ("d", 1.0), ("a", 2.0)],
        "K string, V double",
    )
    t = {"E": ev}
    rows = sorted(
        tuple(r)
        for r in run_kql(
            spark,
            'E | top-nested 2 of K with others = "Rest" by s=sum(V)',
            t,
        ).collect()
    )
    # survivors a(12), b(5); c+d re-aggregate under the label
    assert rows == [("Rest", 4.0), ("a", 12.0), ("b", 5.0)]
    # nested: others applies within each surviving outer key
    ev2 = spark.createDataFrame(
        [("x", "a", 10.0), ("x", "b", 5.0), ("x", "c", 1.0),
         ("y", "a", 2.0)],
        "G string, K string, V double",
    )
    rows2 = sorted(
        tuple(r)
        for r in run_kql(
            spark,
            'E2 | top-nested 1 of G by gs=sum(V), '
            'top-nested 1 of K with others = "Rest" by s=sum(V)',
            {"E2": ev2},
        ).collect()
    )
    assert rows2 == [("x", 16.0, "Rest", 6.0), ("x", 16.0, "a", 10.0)]
    # inner-level others refuses by name; non-string label refuses
    with pytest.raises(KqlSyntaxError, match="LAST"):
        run_kql(
            spark,
            'E2 | top-nested 1 of G with others = "o" by gs=sum(V), '
            "top-nested 1 of K by s=sum(V)",
            {"E2": ev2},
        )
    with pytest.raises(KqlSyntaxError, match="string"):
        run_kql(
            spark, "E | top-nested 2 of K with others = 7 by s=sum(V)", t
        )


# ---------------------------------------------------------------------------
# round-13 additions: lambdas/invoke, scan, partition, find, project-keep/
# reorder, reduce, consume
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return {
        "Docs": spark.createDataFrame(
            [(1, "en", "web", 100), (2, "en", "book", 300),
             (3, "fr", "web", 200), (4, "fr", "web", 50),
             (5, "de", "book", 400)],
            "doc_id long, lang string, source string, n_chars long",
        )
    }


def test_project_keep_original_order_and_wildcards(spark, docs):
    df = run_kql(spark, "Docs | project-keep n_chars, doc_id", docs)
    # ADX contract: output order is the TABLE's, not the argument list's
    assert df.columns == ["doc_id", "n_chars"]
    df = run_kql(spark, "Docs | project-keep *_id, lang", docs)
    assert df.columns == ["doc_id", "lang"]
    with pytest.raises(KqlSyntaxError, match="no columns"):
        run_kql(spark, "Docs | project-keep zz*", docs)


def test_project_reorder(spark, docs):
    df = run_kql(spark, "Docs | project-reorder n_chars, * asc", docs)
    assert df.columns == ["n_chars", "doc_id", "lang", "source"]
    df = run_kql(spark, "Docs | project-reorder * desc", docs)
    assert df.columns == ["source", "n_chars", "lang", "doc_id"]


def test_reduce_by(spark, docs):
    rows = sorted(
        tuple(r)
        for r in run_kql(
            spark,
            "Docs | extend k = strcat(source, tostring(doc_id)) "
            "| reduce by k with (threshold=0.5)",
            docs,
        ).collect()
    )
    assert rows == [
        ("book*", 2, "book2"), ("web*", 3, "web1"),
    ]
    with pytest.raises(KqlSyntaxError, match="reduce property"):
        run_kql(spark, "Docs | reduce by lang with (nope=1)", docs)


def test_consume_returns_empty_with_schema(spark, docs):
    df = run_kql(spark, "Docs | where n_chars > 100 | consume", docs)
    assert df.columns == ["doc_id", "lang", "source", "n_chars"]
    assert df.count() == 0


def test_scan_accumulate_single_step(spark, docs):
    rows = [
        tuple(r)
        for r in run_kql(
            spark,
            "Docs | sort by doc_id asc | scan declare (s:long=0) with "
            "(step s1: true => s = s + n_chars;)",
            docs,
        ).select("doc_id", "s").orderBy("doc_id").collect()
    ]
    assert rows == [(1, 100), (2, 400), (3, 600), (4, 650), (5, 1050)]


def test_scan_condition_prefilters_unmatched_rows(spark, docs):
    # a row matching no step is NOT emitted (Kusto's rule)
    rows = [
        tuple(r)
        for r in run_kql(
            spark,
            "Docs | sort by doc_id asc | scan declare (s:long=0) with "
            "(step s1: source == 'web' => s = s + n_chars;)",
            docs,
        ).select("doc_id", "s").orderBy("doc_id").collect()
    ]
    assert rows == [(1, 100), (3, 300), (4, 350)]


def test_scan_two_step_restart(spark, docs):
    # restart the running sum at every 'book' row; match id counts resets
    rows = [
        tuple(r)
        for r in run_kql(
            spark,
            "Docs | sort by doc_id asc | scan with_match_id=m declare "
            "(s:long=0) with (step a: source == 'book' => s = n_chars; "
            "step b: true => s = s + n_chars;)",
            docs,
        ).select("doc_id", "s", "m").orderBy("doc_id").collect()
    ]
    assert rows == [
        (1, 100, 0), (2, 300, 1), (3, 500, 1), (4, 550, 1), (5, 400, 2),
    ]


def test_scan_refusals(spark, docs):
    with pytest.raises(KqlSyntaxError, match="sort by"):
        run_kql(
            spark,
            "Docs | scan declare (s:long=0) with "
            "(step s1: true => s = s + n_chars;)",
            docs,
        )
    # r14: multi-step scans RUN now; the refusals narrow to genuinely
    # uncompilable shapes, each naming its escape hatch
    with pytest.raises(KqlSyntaxError, match="unsupported function"):
        run_kql(
            spark,
            "Docs | sort by doc_id asc | scan declare (s:string='') with "
            "(step a: lang == 'en' => s = base64_encode_tostring(lang); "
            "step b: s != '' => s = s; step c: true => s = s;)",
            docs,
        )
    with pytest.raises(KqlSyntaxError, match="plain columns"):
        run_kql(
            spark,
            "Docs | sort by strcat(lang, source) asc | scan declare "
            "(s:long=0) with (step a: true => s = n_chars; "
            "step b: s > 0 => s = s + n_chars; step c: true => s = s;)",
            docs,
        )
    with pytest.raises(KqlSyntaxError, match="undeclared variable"):
        run_kql(
            spark,
            "Docs | sort by doc_id asc | scan declare (s:long=0) with "
            "(step a: true => t = n_chars;)",
            docs,
        )
    with pytest.raises(KqlSyntaxError, match="unsupported declared type"):
        run_kql(
            spark,
            "Docs | sort by doc_id asc | scan declare (s:guid) with "
            "(step a: true => s = s; step b: s == s => s = s; "
            "step c: true => s = s;)",
            docs,
        )


def test_scan_multi_step_sequence_semantics(spark, docs):
    """The general machine (r14): a 3-step funnel with distinct
    assignments and a state-reading condition. Sequence semantics:
    steps scan last→first; capture continues the instance at the step,
    else advances the previous step's instance, else (first step only)
    starts a new sequence. Rows captured by no step are not emitted."""
    rows = [
        ("u", "login", "2024-01-01 10:00:00"),
        ("u", "browse", "2024-01-01 10:05:00"),
        ("u", "browse", "2024-01-01 10:07:00"),
        ("u", "buy", "2024-01-01 10:10:00"),
        ("u", "noise", "2024-01-01 10:11:00"),
        ("u", "login", "2024-01-01 11:00:00"),
        ("u", "buy", "2024-01-01 11:05:00"),
    ]
    s = spark.createDataFrame(
        rows, "uid string, ev string, tss string"
    ).selectExpr("uid", "ev", "cast(tss as timestamp) ts")
    out = run_kql(
        spark,
        "S | sort by ts asc | scan with_match_id=m declare "
        "(n:long=0) with ("
        "step login: ev == 'login' => n = 0; "
        "step browse: ev == 'browse' => n = n + 1; "
        "step buy: ev == 'buy' => n = n;)",
        {"S": s},
    ).select("ev", "n", "m")
    got = sorted(tuple(r) for r in out.collect())
    # seq 0: login → browse ×2 (n counts them) → buy; 'noise' matches
    # no step and is NOT emitted; the second login starts seq 1; the
    # second buy CONTINUES seq 0's instance still active at the buy
    # step (a step keeps absorbing records whose condition holds —
    # the rule that also makes single-step accumulates run)
    assert got == sorted([
        ("login", 0, 0), ("browse", 1, 0), ("browse", 2, 0),
        ("buy", 2, 0), ("login", 0, 1), ("buy", 2, 0),
    ])


def test_scan_state_reading_condition_session_timeout(spark):
    """Session labeling: a 2-step scan whose second step's condition
    reads the state (ts - last_ts <= 10m) — the shape the window
    profiles refuse, now on the sequential machine."""
    rows = [
        ("2024-01-01 10:00:00",),
        ("2024-01-01 10:04:00",),
        ("2024-01-01 10:30:00",),
        ("2024-01-01 10:35:00",),
    ]
    s = spark.createDataFrame(rows, "tss string").selectExpr(
        "cast(tss as timestamp) ts"
    )
    out = run_kql(
        spark,
        "S | sort by ts asc | scan with_match_id=session declare "
        "(last_ts:datetime, k:long=0) with ("
        "step start: true => last_ts = ts, k = 1; "
        "step cont: ts - last_ts <= 10m => last_ts = ts, k = k + 1;)",
        {"S": s},
    ).selectExpr("cast(ts as string) ts", "k", "session")
    got = sorted(tuple(r) for r in out.collect())
    # 10:30 is 26m after 10:04 → cont's condition fails; start (true)
    # captures it as a NEW session
    assert got == [
        ("2024-01-01 10:00:00", 1, 0),
        ("2024-01-01 10:04:00", 2, 0),
        ("2024-01-01 10:30:00", 1, 1),
        ("2024-01-01 10:35:00", 2, 1),
    ]


def test_partition_by_bounded_branches(spark, docs):
    rows = sorted(
        tuple(r)
        for r in run_kql(
            spark,
            "Docs | partition by lang "
            "( sort by n_chars desc, doc_id asc | take 1 )",
            docs,
        ).collect()
    )
    assert rows == [
        (2, "en", "book", 300), (3, "fr", "web", 200),
        (5, "de", "book", 400),
    ]
    # summarize branch form
    rows = sorted(
        tuple(r)
        for r in run_kql(
            spark,
            "Docs | partition by lang ( summarize n=count(), "
            "mx=max(n_chars) by source )",
            docs,
        ).collect()
    )
    assert ("web", 2, 200) in rows and ("book", 1, 400) in rows


def test_partition_cap_valve(spark):
    wide = spark.range(100).selectExpr("id", "cast(id as string) k")
    with pytest.raises(KqlSyntaxError, match="64"):
        run_kql(spark, "W | partition by k ( take 1 )", {"W": wide})


def test_find_wildcard_and_predicate(spark, docs, t):
    tbls = dict(docs)
    tbls.update(t)
    df = run_kql(
        spark,
        "find withsource=src in (Docs, Events) where * contains 'disk' "
        "project Text, lang",
        tbls,
    )
    rows = [tuple(r) for r in df.collect()]
    assert df.columns == ["src", "Text", "lang"]
    assert all(r[0] == "Events" for r in rows) and len(rows) == 2
    # column-predicate form over one table
    rows = sorted(
        r["doc_id"]
        for r in run_kql(
            spark, "find in (Docs) where n_chars >= 300", tbls
        ).collect()
    )
    assert rows == [2, 5]


def test_lambda_let_invoke_and_calls(spark, docs):
    # | invoke binds the piped table to the first tabular param
    rows = sorted(
        r["doc_id"]
        for r in run_kql(
            spark,
            "let big = (T:(*), k:long) { T | where n_chars > k }; "
            "Docs | invoke big(150)",
            docs,
        ).collect()
    )
    assert rows == [2, 3, 5]
    # source-position call + scalar default
    assert _rows(
        spark,
        "let big = (T:(*), k:long=250) { T | where n_chars > k }; "
        "big(Docs) | count",
        docs,
    ) == [(2,)]
    # scalar-position lambda call
    assert _rows(
        spark,
        "let add = (a:long, b:long) { a + b }; print v = add(3, 4)",
        docs,
    ) == [(7,)]
    # missing required argument refuses by parameter name
    with pytest.raises(KqlSyntaxError, match="missing argument"):
        run_kql(
            spark,
            "let big = (T:(*), k:long) { T | where n_chars > k }; "
            "Docs | invoke big()",
            docs,
        )
    # invoke over a non-function name refuses loudly
    with pytest.raises(KqlSyntaxError, match="not a let-bound"):
        run_kql(spark, "Docs | invoke missing(1)", docs)


def test_evaluate_bag_unpack_and_narrow(spark, t):
    ev = spark.createDataFrame(
        [(1, '{"k": "a", "n": 3}'), (2, '{"k": "b"}')],
        "Id long, Props string",
    )
    tbls = {"E": ev}
    rows = sorted(
        tuple(r)
        for r in run_kql(
            spark,
            "E | evaluate bag_unpack(Props) : (k:string, n:long)",
            tbls,
        ).collect()
    )
    assert rows == [(1, "a", 3), (2, "b", None)]
    # prefix form renames the unpacked keys only
    df = run_kql(
        spark,
        "E | evaluate bag_unpack(Props, 'p_') : (k:string, n:long)",
        tbls,
    )
    assert df.columns == ["Id", "p_k", "p_n"]
    # schema spec is REQUIRED (static plans, no inference scan)
    with pytest.raises(KqlSyntaxError, match="schema"):
        run_kql(spark, "E | evaluate bag_unpack(Props)", tbls)
    # narrow with an id column — the scale path
    rows = sorted(
        tuple(r)
        for r in run_kql(
            spark, "Events | evaluate narrow(Id) | where Column == 'Level'", t
        ).collect()
    )
    assert rows == [
        (1, "Level", "Error"), (2, "Level", "Warning"),
        (3, "Level", "Error"), (4, "Level", "Information"),
    ]
    # bare narrow(): ADX's (Row, Column, Value) over the pinned order
    rows = [
        tuple(r)
        for r in run_kql(
            spark,
            "Events | sort by Id asc | evaluate narrow() "
            "| where Column == 'Id' | sort by Row asc",
            t,
        ).collect()
    ]
    assert rows == [
        (1, "Id", "1"), (2, "Id", "2"), (3, "Id", "3"), (4, "Id", "4"),
    ]


def test_make_series_from_to_binat_alignment(spark):
    ev = spark.createDataFrame(
        [("2024-03-01 02:45:00", 1.0), ("2024-03-01 03:40:00", 2.0),
         ("2024-03-01 04:10:00", 4.0), ("2024-03-01 08:00:00", 99.0)],
        "tss string, V double",
    ).selectExpr("cast(tss as timestamp) Ts", "V")
    rows = [
        tuple(r)
        for r in run_kql(
            spark,
            "E | make-series s=sum(V) on Ts "
            "from datetime('2024-03-01 02:30:00') "
            "to datetime('2024-03-01 05:30:00') step 1h "
            "| sort by Ts asc",
            {"E": ev},
        ).collect()
    ]
    # buckets align to 02:30 (bin_at), the axis is [from, to) — the
    # 08:00 row is outside and excluded; empty buckets fill default
    assert [(str(ts), s) for ts, s in rows] == [
        ("2024-03-01 02:30:00", 1.0),
        ("2024-03-01 03:30:00", 6.0),
        ("2024-03-01 04:30:00", 0.0),
    ]


def test_series_scalar_batch_round13(spark):
    q = (
        "print s = dynamic([1.0, 2.0, 4.0, 8.0]), "
        "t = dynamic([1.0, 1.0, 1.0, 1.0])\n"
        "| extend mavg = series_moving_avg(s, 2), "
        "fir = series_fir(s, dynamic([1, 1]), true, false), "
        "ssum = series_sum(s), smax = series_max(s), "
        "sadd = series_add(s, t), "
        "corr = series_pearson_correlation(s, s), "
        "slope0 = series_fit_line(t)['slope']\n"
        "| extend (slope, icept) = series_fit_line(s)\n"
        "| project mavg, fir, ssum, smax, sadd, corr, slope0, slope, icept"
    )
    r = run_kql(spark, q, {}).collect()[0]
    assert r.mavg == [1.0, 1.5, 3.0, 6.0]
    assert r.fir == [1.0, 1.5, 3.0, 6.0]
    assert r.ssum == 15.0 and r.smax == 8.0
    assert r.sadd == [2.0, 3.0, 5.0, 9.0]
    assert abs(r.corr - 1.0) < 1e-12
    assert r.slope0 == 0.0  # flat series, same-stage bracket access
    # tuple extend unpacks positionally: y = 1+2x fits s roughly;
    # exact check against numpy's lstsq is overkill — pin the flat case
    # and that both outputs materialized
    assert r.slope is not None and r.icept is not None


def test_search_source_and_declare_parameters(spark, t, docs):
    tbls = dict(t)
    tbls.update(docs)
    # query-initial cross-table search: ADX's $table source column
    df = run_kql(spark, "search in (Events, Docs) 'disk'", tbls)
    assert df.columns[0] == "$table"
    rows = df.collect()
    assert len(rows) == 2 and all(r["$table"] == "Events" for r in rows)
    # bare form spans every table the runner was given
    assert run_kql(spark, "search 'disk'", tbls).count() == 2
    # declare query_parameters binds defaults like lets
    assert _rows(
        spark,
        "declare query_parameters (thr:long = 150);\n"
        "Docs | where n_chars > thr | count",
        docs,
    ) == [(3,)]
    with pytest.raises(KqlSyntaxError, match="no default"):
        run_kql(
            spark,
            "declare query_parameters (thr:long); Docs | count",
            docs,
        )


def test_sort_nulls_and_join_hints(spark, t):
    ev = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 1.0)], "Id long, V double"
    )
    tbls = {"E": ev}
    assert [r.Id for r in run_kql(
        spark, "E | sort by V asc nulls first", tbls).collect()] == [1, 3, 2]
    assert [r.Id for r in run_kql(
        spark, "E | sort by V asc nulls last", tbls).collect()] == [3, 2, 1]
    with pytest.raises(KqlSyntaxError, match="nulls"):
        run_kql(spark, "E | sort by V asc nulls sideways", tbls)
    # join hint.strategy=broadcast shows up in the physical plan
    lookup = spark.createDataFrame(
        [("Error", 1)], "Level string, Code int"
    )
    tables = dict(t, Lookup=lookup)
    df = run_kql(
        spark,
        "Events | join kind=inner hint.strategy=broadcast (Lookup) on Level",
        tables,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    df = run_kql(
        spark,
        "Events | join kind=inner hint.strategy=shuffle (Lookup) on Level",
        tables,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    with pytest.raises(KqlSyntaxError, match="join hint"):
        run_kql(
            spark,
            "Events | join kind=inner hint.nope=1 (Lookup) on Level",
            tables,
        )


def test_evaluate_rows_near_and_sequence_detect(spark):
    ev = spark.createDataFrame(
        [(1, "ok"), (2, "ok"), (3, "error"), (4, "ok"), (5, "ok"),
         (6, "ok"), (7, "error"), (8, "ok")],
        "Id long, St string",
    )
    rows = [r.Id for r in run_kql(
        spark,
        "E | sort by Id asc | evaluate rows_near(St == 'error', 1)",
        {"E": ev},
    ).orderBy("Id").collect()]
    assert rows == [2, 3, 4, 6, 7, 8]
    # asymmetric window: 0 before, 2 after... (args: NumRows, RowsAfter)
    rows = [r.Id for r in run_kql(
        spark,
        "E | sort by Id asc | evaluate rows_near(St == 'error', 0, 2)",
        {"E": ev},
    ).orderBy("Id").collect()]
    assert rows == [3, 4, 5, 7, 8]
    with pytest.raises(KqlSyntaxError, match="sort"):
        run_kql(spark, "E | evaluate rows_near(St == 'error', 1)", {"E": ev})

    seq = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", "login"),
         ("u1", "2024-01-01 00:10:00", "search"),
         ("u1", "2024-01-01 00:15:00", "buy"),
         ("u2", "2024-01-01 00:00:00", "login"),
         ("u2", "2024-01-01 09:00:00", "search")],
        "uid string, tss string, ev string",
    ).selectExpr("uid", "cast(tss as timestamp) ts", "ev")
    out = run_kql(
        spark,
        "S | evaluate sequence_detect(ts, 30m, 1h, "
        "ev == 'login', ev == 'search', ev == 'buy', uid)",
        {"S": seq},
    ).collect()
    # u1 completes within windows; u2's search is 9h after login
    assert [r.uid for r in out] == ["u1"]
    assert str(out[0].step3_ts) == "2024-01-01 00:15:00"
    with pytest.raises(KqlSyntaxError, match="same"):
        run_kql(
            spark,
            "S | evaluate sequence_detect(ts, 30m, 1h, "
            "ev == 'login', uid == 'u1', uid)",
            {"S": seq},
        )


def test_mv_expand_with_itemindex(spark, t):
    out = _rows(
        spark,
        "Events | extend Tags=todynamic(TagsJson) "
        "| mv-expand with_itemindex=Ix Tags "
        "| project Id, Ix, Tag=tostring(Tags) | sort by Id asc, Ix asc",
        t,
    )
    assert out == [
        (1, 0, "a"), (1, 1, "b"), (2, 0, "c"),
        (4, 0, "d"), (4, 1, "e"), (4, 2, "f"),
    ]


def test_union_withsource_set_away_wildcards_right_joins(spark, t):
    a = spark.createDataFrame([(1, "x")], "Id long, A string")
    b = spark.createDataFrame([(1,), (2,)], "Id long")
    tbls = {"A1": a, "B1": b}
    rows = sorted(
        tuple(r)
        for r in run_kql(
            spark,
            "set notruncation; A1 | union withsource=Src B1 "
            "| project Id, Src",
            tbls,
        ).collect()
    )
    # left pipeline is source_0; named operands carry their own name
    assert rows == [(1, "source_0"), (1, "B1"), (2, "B1")] or rows == [
        (1, "B1"), (1, "source_0"), (2, "B1")
    ]
    assert run_kql(spark, "A1 | project-away A*", tbls).columns == ["Id"]
    assert sorted(
        r.Id
        for r in run_kql(
            spark, "A1 | join kind=rightanti (B1) on Id", tbls
        ).collect()
    ) == [2]
    assert sorted(
        r.Id
        for r in run_kql(
            spark, "A1 | join kind=rightsemi (B1) on Id", tbls
        ).collect()
    ) == [1]


def test_bin_at(spark, t):
    out = run_kql(
        spark,
        "print x = bin_at(6.5, 2.5, 7.0), "
        "t = bin_at(datetime('2024-03-01 03:45:00'), 1h, "
        "datetime('2024-03-01 00:30:00'))",
        t,
    ).collect()[0]
    # ADX doc example: bin_at(6.5, 2.5, 7) == 4.5; datetime bins align
    # to the fixed point's minute offset
    assert out.x == 4.5
    assert str(out.t) == "2024-03-01 03:30:00"


def test_parse_kind_regex_and_refusal(spark):
    ev = spark.createDataFrame(
        [(1, "id=42   level=err"), (2, "nope")], "Id long, T string"
    )
    t = {"E": ev}
    out = _rows(
        spark,
        "E | parse-where kind=regex T with 'id=' n:long '\\\\s+level=' lv "
        "| project Id, n, lv",
        t,
    )
    assert out == [(1, 42, "err")]
    # default simple kind ESCAPES literals: \s+ is four literal chars
    assert run_kql(
        spark, "E | parse-where T with 'id=' n:long '\\\\s+level=' lv", t
    ).count() == 0
    # relaxed maps to simple (try_cast already nulls failed captures)
    out = _rows(
        spark,
        "E | parse kind=relaxed T with 'id=' n:long ' ' rest "
        "| project Id, n | sort by Id asc",
        t,
    )
    assert out == [(1, 42), (2, None)]
    with pytest.raises(KqlSyntaxError, match="kind"):
        run_kql(spark, "E | parse kind=bogus T with 'x' v", t)


def test_evaluate_activity_plugin_family(spark):
    rows = [
        ("u1", "2024-01-01 10:00:00", "a"),
        ("u1", "2024-01-01 10:05:00", "b"),
        ("u1", "2024-01-01 12:00:00", "c"),
        ("u2", "2024-01-02 09:00:00", "a"),
    ]
    s = spark.createDataFrame(
        rows, "uid string, tss string, st string"
    ).selectExpr("uid", "cast(tss as timestamp) ts", "st")
    t = {"S": s}
    acm = {
        str(r.bin): (r.count_, r.dcount, r.new_dcount, r.aggregated_dcount)
        for r in run_kql(
            spark, "S | evaluate activity_counts_metrics(uid, ts)", t
        ).collect()
    }
    assert acm["2024-01-01 00:00:00"] == (3, 1, 1, 1)
    assert acm["2024-01-02 00:00:00"] == (1, 1, 1, 2)
    # 30m lookback: u1's 12:00 event starts a second session
    sc = sorted(
        (str(r[0]), r[1])
        for r in run_kql(
            spark, "S | evaluate session_count(uid, ts, 30m)", t
        ).collect()
    )
    assert sc == [("2024-01-01 00:00:00", 2), ("2024-01-02 00:00:00", 1)]
    eng = run_kql(
        spark, "S | evaluate activity_engagement(uid, ts, 1d, 7d)", t
    )
    assert eng.columns == [
        "day", "inner_active", "outer_active", "engagement_ratio",
    ]
    fs = sorted(
        tuple(r)
        for r in run_kql(
            spark, "S | evaluate funnel_sequence(uid, ts, st, 'b')", t
        ).collect()
    )
    assert fs == [("a", "c", 1)]


def test_scalar_completions_round13(spark, t):
    out = run_kql(
        spark,
        "print a = week_of_year(datetime('2024-03-01')), "
        "b = datetime_part('quarter', datetime('2024-05-01')), "
        "c = max_of(1, 9, 4), d = min_of(2.5, 1.5), "
        "e = format_timespan(90061s, 'd.hh:mm:ss'), "
        "f = format_timespan(3725s, 'hh:mm:ss'), "
        "g = make_datetime(2024, 3, 1, 12, 30, 15.0), "
        "h = unixtime_seconds_todatetime(1704067200), "
        "i = array_concat(dynamic([1, 2]), dynamic([3])), "
        "j = isfinite(1.0), k = isinf(1.0)",
        t,
    ).collect()[0]
    assert out.a == 9 and out.b == 2 and out.c == 9 and out.d == 1.5
    assert out.e == "1.01:01:01" and out.f == "01:02:05"
    assert str(out.g) == "2024-03-01 12:30:15"
    assert str(out.h) == "2024-01-01 00:00:00"
    assert out.i == [1, 2, 3]
    assert out.j is True and out.k is False
    with pytest.raises(KqlSyntaxError, match="format_timespan"):
        run_kql(spark, "print x = format_timespan(1s, 'ss.fff')", t)
    with pytest.raises(KqlSyntaxError, match="datetime_part"):
        run_kql(
            spark, "print x = datetime_part('era', datetime('2024-01-01'))", t
        )


def test_bag_scalars_and_single_element_dynamic(spark, t):
    out = run_kql(
        spark,
        "print a = bag_keys('{\"b\": 1, \"a\": 2}'), "
        "m = bag_merge('{\"x\": \"1\"}', '{\"x\": \"9\", \"y\": \"2\"}'), "
        "r = bag_remove_keys('{\"x\": \"1\", \"y\": \"2\"}', "
        "dynamic(['y'])), "
        "h = bag_has_key('{\"x\": 1}', 'x'), "
        "p = bag_pack('k', 5)",
        t,
    ).collect()[0]
    assert out.a == ["a", "b"]
    # left value wins on conflict (Kusto's bag_merge rule), keys sorted
    assert out.m == '{"x":"1","y":"2"}'
    assert out.r == '{"x":"1"}'
    assert out.h is True and out.p == '{"k":5}'
    # dynamic(['x']) — the single-quoted-string list form parses (it
    # lexes as a bracket-quoted ident; the literal grammar folds it)
    assert _rows(
        spark, "print v = array_length(dynamic(['only']))", t
    ) == [(1,)]


def test_range_datetime_axis(spark, t):
    out = run_kql(
        spark,
        "range d from datetime('2024-03-01') to datetime('2024-03-04') "
        "step 1d | count",
        t,
    ).collect()[0][0]
    assert out == 4  # inclusive bounds, like the numeric form
    first = run_kql(
        spark,
        "range h from datetime('2024-03-01 00:00:00') "
        "to datetime('2024-03-01 02:00:00') step 30m | sort by h asc",
        t,
    ).collect()
    assert [str(r.h) for r in first][:3] == [
        "2024-03-01 00:00:00", "2024-03-01 00:30:00", "2024-03-01 01:00:00",
    ]


def test_malformed_queries_fail_loudly_not_crash(spark, t):
    """A sweep of malformed inputs: every one must raise KqlSyntaxError
    (grammar error), never an engine-internal TypeError/IndexError."""
    bad = [
        "E |", "E | where", "| where x", "E | project ,",
        "E | top", "E | join (E)", "E | join kind=inner (E) on",
        "E | mv-expand", "E | evaluate", "E | evaluate pivot(",
        "E | parse", "E | scan", "E | partition by",
        "find in ()", "search", "let x = ;",
        "E | extend (a, b) = 1", "E | invoke", "E | lookup (E) on",
        "range x from 1 to", "print", "datatable(a:long) [1",
        "E | as", "E | sample", "E | union", "E | reduce",
        "E | where (Id", "E | sort by",
        "E | extend x = bag_merge()",
        "E | take 9999999999999999999999",
    ]
    e = spark.createDataFrame([(1,)], "Id long")
    for q in bad:
        with pytest.raises(KqlSyntaxError):
            run_kql(spark, q, {"E": e})


def test_summarize_percentiles_multi_output(spark, t):
    df = run_kql(
        spark,
        "Events | summarize percentiles(Value, 50, 95), n=count() by x=1",
        t,
    )
    assert df.columns == [
        "x", "percentile_Value_50", "percentile_Value_95", "n",
    ]
    r = df.collect()[0]
    # values 1, 5, 7.5, 10 — approx percentile picks real elements
    assert r.percentile_Value_50 in (5.0, 7.5) and r.percentile_Value_95 == 10.0
    assert r.n == 4
    with pytest.raises(KqlSyntaxError, match="percentile"):
        run_kql(spark, "Events | summarize percentiles(Value)", t)


def test_union_kind_inner_intersects_columns(spark, t):
    # ADVICE r14: ADX inner union keeps only the columns common to all
    # operands — previously it returned the null-padded superset.
    inner = run_kql(
        spark,
        "Events | project Id, Level "
        "| union kind=inner (Events | project Id, Value)",
        t,
    )
    assert inner.columns == ["Id"]
    assert inner.count() == 8
    outer = run_kql(
        spark,
        "Events | project Id, Level "
        "| union kind=outer (Events | project Id, Value)",
        t,
    )
    assert sorted(outer.columns) == ["Id", "Level", "Value"]
    with pytest.raises(KqlSyntaxError, match="no columns"):
        run_kql(
            spark,
            "Events | project Id "
            "| union kind=inner (Events | project Level)",
            t,
        )
    with pytest.raises(KqlSyntaxError, match="union kind"):
        run_kql(spark, "Events | union kind=leftouter Events", t)


def test_find_and_search_keep_duplicate_sources(spark, t):
    # ADVICE r14: `find in (T, T | where …)` repeats the display name —
    # a name-keyed dict silently dropped all but the last source.
    df = run_kql(
        spark, "find in (Events, Events) where * has 'disk'", t
    )
    assert df.count() == 4  # both same-named operands searched
    assert sorted(r["source_"] for r in df.collect()) == ["Events"] * 4
    sub = run_kql(
        spark,
        "find in (Events, (Events | where Id == 1)) where * has 'disk'",
        t,
    )
    assert sub.count() == 3  # 2 from the full table + 1 from the filtered
    s = run_kql(spark, "search in (Events, Events) 'disk'", t)
    assert s.count() == 4  # both operands searched


def test_evaluate_plugin_batch_round14(spark):
    """r14 plugin bindings: sliding_window_counts / rolling_percentile /
    new_activity_metrics / dcount_intersect / diffpatterns_text — the
    library implementations already existed and were oracled; these pin
    the text-layer argument plumbing."""
    rows = [
        ("u1", "2024-01-01 10:00:00", 10.0, "g1", "alpha beta"),
        ("u2", "2024-01-01 11:00:00", 20.0, "g1", "alpha gamma"),
        ("u1", "2024-01-02 09:00:00", 30.0, "g2", "beta beta"),
        ("u3", "2024-01-03 09:00:00", 40.0, "g2", "delta"),
    ]
    s = spark.createDataFrame(
        rows, "uid string, tss string, v double, g string, txt string"
    ).selectExpr("uid", "cast(tss as timestamp) ts", "v", "g", "txt")
    t = {"S": s}

    swc = {
        str(r.day): (r.count_events, r.dcount_actors)
        for r in run_kql(
            spark, "S | evaluate sliding_window_counts(uid, ts, 2d)", t
        ).collect()
    }
    # day 2 sees days 1-2 (3 events, 2 actors); day 3 sees days 2-3
    assert swc["2024-01-01"] == (2, 2)
    assert swc["2024-01-02"] == (3, 2)
    assert swc["2024-01-03"] == (2, 2)

    rp = {
        str(r.day): r.p50
        for r in run_kql(
            spark, "S | evaluate rolling_percentile(v, 50, ts, 2d)", t
        ).collect()
    }
    assert rp["2024-01-01"] == 15.0      # median of 10, 20
    assert rp["2024-01-02"] == 20.0      # median of 10, 20, 30
    assert rp["2024-01-03"] == 35.0      # median of 30, 40

    nam = {
        str(r.bin): (r.dcount, r.new_dcount, r.retained_dcount,
                     r.churn_dcount)
        for r in run_kql(
            spark, "S | evaluate new_activity_metrics(uid, ts)", t
        ).collect()
    }
    assert nam["2024-01-01 00:00:00"] == (2, 2, 0, 0)
    assert nam["2024-01-02 00:00:00"] == (1, 0, 1, 1)  # u1 retained, u2 churned
    assert nam["2024-01-03 00:00:00"] == (1, 1, 0, 1)

    di = run_kql(
        spark, "S | evaluate dcount_intersect(uid, g, 'g1', 'g2')", t
    ).collect()[0]
    assert (di.s0, di.s1) == (2, 1)  # g1 = {u1,u2}; g1 ∩ g2 = {u1}

    dp = {
        r.term: (r.n_true, r.n_false)
        for r in run_kql(
            spark,
            "S | evaluate diffpatterns_text(txt, v >= 25, 10, 1)",
            t,
        ).collect()
    }
    assert dp["delta"] == (1, 0) and dp["alpha"] == (0, 2)
    assert dp["beta"] == (1, 1)  # document frequency, not term spam

    # argument errors refuse loudly
    with pytest.raises(KqlSyntaxError, match="timespan"):
        run_kql(spark, "S | evaluate sliding_window_counts(uid, ts, 5)", t)
    with pytest.raises(KqlSyntaxError, match="day/hour/week"):
        run_kql(spark, "S | evaluate new_activity_metrics(uid, ts, month)", t)
    with pytest.raises(KqlSyntaxError, match="group literal"):
        run_kql(spark, "S | evaluate dcount_intersect(uid, g)", t)


def test_scan_step_output_none_mutes_but_advances(spark, docs):
    """ADX per-step output directive: output=none steps capture and
    advance state but emit nothing; output=last refuses by name."""
    rows = [
        ("u", "login", 1), ("u", "browse", 2), ("u", "buy", 3),
    ]
    s = spark.createDataFrame(rows, "uid string, ev string, t long")
    out = run_kql(
        spark,
        "S | sort by t asc | scan with_match_id=m declare (n:long=0) "
        "with ("
        "step login: ev == 'login' => n = 0; "
        "step browse output=none: ev == 'browse' => n = n + 1; "
        "step buy: ev == 'buy' => n = n;)",
        {"S": s},
    ).select("ev", "n", "m")
    got = sorted(tuple(r) for r in out.collect())
    # browse advanced the state (n=1 reaches buy) but emitted no row
    assert got == [("buy", 1, 0), ("login", 0, 0)]
    with pytest.raises(KqlSyntaxError, match="output='last'"):
        run_kql(
            spark,
            "S | sort by t asc | scan declare (n:long=0) with ("
            "step a: true => n = 0; "
            "step b output=last: ev == 'buy' => n = n; "
            "step c: true => n = n;)",
            {"S": s},
        )


def test_scan_single_step_cumulative_adx_doc_form(spark):
    """The ADX docs' canonical cumulative scan — a SINGLE step whose
    assignment references the step's own state by qualifier
    (`c = x + s1.c`) — must accumulate, not reset: single-step scans
    extend their one instance (kql.scan_steps' documented contract),
    and the `s1.` qualifier is sugar for the flattened state."""
    s = spark.createDataFrame([(i,) for i in range(1, 6)], "x long")
    out = run_kql(
        spark,
        "S | sort by x asc | scan declare (c:long=0) with "
        "(step s1: true => c = x + s1.c;)",
        {"S": s},
    ).select("x", "c")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, 1), (2, 3), (3, 6), (4, 10), (5, 15)]
    # the unqualified window-profile form agrees
    out2 = run_kql(
        spark,
        "S | sort by x asc | scan declare (c:long=0) with "
        "(step s1: true => c = c + x;)",
        {"S": s},
    ).select("x", "c")
    assert sorted(tuple(r) for r in out2.collect()) == got


def test_scan_review_fixes_round14(spark):
    """Self-review regressions: (a) a fork/facet branch's sort must not
    leak its sort-key NAMES into the outer scan's order replay; (b)
    max_of/min_of ignore nulls (the F.greatest contract) instead of
    crashing mid-task; (c) a sort key projected away before the scan
    refuses at parse time; (d) the machine replays Spark's serialize
    null order (asc = nulls first), not pandas' na-last default."""
    rows = [
        ("a", 1, 5.0, "g"), ("b", 2, None, "g"),
        ("c", 3, 9.0, "g"), ("d", 4, 2.0, "g"),
    ]
    s = spark.createDataFrame(rows, "k string, t long, v double, g string")
    # the chaining machine numbers rows in WALK order: start begins the
    # one sequence, cont extends it on every later record
    chain = (
        "| scan declare (c:long=0) with ("
        "step start: true => c = 1; "
        "step cont: c >= 1 => c = c + 1;)"
    )

    # (a) a partition-by branch's `sort by v desc` must not leak its
    # sort-key NAMES into the outer scan's order replay (t asc)
    leaked = run_kql(
        spark,
        "S | sort by t asc | partition by g ( sort by v desc "
        f"| take 100 ) {chain}",
        {"S": s},
    )
    got = {r.k: r.c for r in leaked.collect()}
    assert got == {"a": 1, "b": 2, "c": 3, "d": 4}  # t-asc walk order

    # (b) running max over a default-less (null) state variable
    mx = run_kql(
        spark,
        "S | sort by t asc | scan declare (m:real) with ("
        "step s1: true => m = max_of(m, v);)",
        {"S": s},
    )
    assert [r.m for r in mx.orderBy("t").collect()] == [5.0, 5.0, 9.0, 9.0]

    # (c) sort key projected away before the scan: loud parse refusal
    with pytest.raises(KqlSyntaxError, match="projected away"):
        run_kql(
            spark,
            "S | sort by t asc | project k, v | scan declare (c:long=0) "
            "with (step a: true => c = c + 1; "
            "step b: c > 99 => c = c; step e: false => c = c;)",
            {"S": s},
        )

    # (d) null sort keys walk FIRST under asc (Spark/KQL serialize
    # order), so the machine's running count assigns them step 1
    ns = spark.createDataFrame(
        [(None, "x"), (5, "y"), (2, "z")], "t int, k string"
    )
    seq = run_kql(
        spark,
        "N | sort by t asc | scan declare (c:long=0) with ("
        "step start: true => c = 1; "
        "step cont: c >= 1 => c = c + 1;)",
        {"N": ns},
    )
    order = {r.k: r.c for r in seq.collect()}
    assert order == {"x": 1, "z": 2, "y": 3}


def test_scan_nonzero_declare_default_is_honored(spark):
    """A non-zero declared default previously fell into the window
    profile, which models sums FROM ZERO — silently dropping the seed.
    Such scans now route to the machine, which seeds every new
    sequence with the default (ADX's `s:long=5` semantics)."""
    s = spark.createDataFrame([(i,) for i in range(1, 4)], "x long")
    out = run_kql(
        spark,
        "S | sort by x asc | scan declare (c:long=100) with "
        "(step s1: true => c = c + x;)",
        {"S": s},
    ).select("x", "c")
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, 101), (2, 103), (3, 106)]


def test_evaluate_active_users_count(spark):
    rows = [
        ("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-02 10:00:00"),
        ("u2", "2024-01-01 11:00:00"), ("u3", "2024-01-03 09:00:00"),
    ]
    s = spark.createDataFrame(rows, "uid string, tss string").selectExpr(
        "uid", "cast(tss as timestamp) ts"
    )
    auc = {
        str(r.day): r.active_users
        for r in run_kql(
            spark, "S | evaluate active_users_count(uid, ts, 3d, 2)",
            {"S": s},
        ).collect()
    }
    # u1 active on 2 distinct days of the trailing 3-day window from
    # day 2 onward; nobody else reaches 2 distinct days
    assert auc == {"2024-01-01": 0, "2024-01-02": 1, "2024-01-03": 1}
    with pytest.raises(KqlSyntaxError, match="timespan"):
        run_kql(
            spark, "S | evaluate active_users_count(uid, ts, 5)", {"S": s}
        )
