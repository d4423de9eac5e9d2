from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cloudpelican_lsd_spark.engine import CloudPelicanEngine
from cloudpelican_lsd_spark.functions.durations import parse_duration
from cloudpelican_lsd_spark.sources.tables import logs_view

#: the checkout this test file belongs to
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def engine(spark, sf_dir):
    return CloudPelicanEngine(spark, logs_view(spark, sf_dir), sf_dir=sf_dir)


def test_parse_duration():
    assert parse_duration("10m") == 600
    assert parse_duration("2h") == 7200
    assert parse_duration("1d") == 86400
    assert parse_duration("45") == 45
    assert parse_duration("45s") == 45
    for bad in ["", "x", "10x", "m"]:
        with pytest.raises(ValueError):
            parse_duration(bad)


def test_filter_crud_commands(engine):
    engine.execute("create filter errs as 'error'")
    assert engine.describe_filter("errs")["regex"] == "error"
    names = [r.name for r in engine.execute("show filters").collect()]
    assert "errs" in names
    engine.execute("drop filter errs")
    names = [r.name for r in engine.execute("show filters").collect()]
    assert "errs" not in names


def test_cat_pipeline_on_filter(engine):
    engine.execute("create filter errs as 'error'")
    out = engine.execute("cat errs | grep -v click | limit 5").collect()
    assert 0 < len(out) <= 5
    assert all("error" in r._raw for r in out)


def test_select_with_where_and_limit(engine):
    engine.execute("create filter errs as 'error'")
    rows = engine.execute("select * from errs where 'value=[0-9]{3} ' limit 7").collect()
    assert 0 < len(rows) <= 7
    import re

    assert all(re.search(r"value=[0-9]{3} ", r._raw) for r in rows)


def test_select_unknown_name_creates_temp_filter(engine):
    rows = engine.execute("select * from stream:default where 'purchase' limit 3").collect()
    assert 0 < len(rows) <= 3
    temps = [f for f in engine.catalog.list(include_temp=True) if f.name.startswith("__tmp__")]
    assert temps and temps[0].regex == "purchase"


def test_tail_command(engine):
    engine.execute("create filter errs as 'error'")
    rows = engine.execute("tail errs limit 10").collect()
    assert len(rows) == 10
    epochs = [r.ts_epoch for r in rows]
    assert epochs == sorted(epochs)
    # last-N means the newest matching event is included
    newest = engine._matched("errs").agg(F.max("ts_epoch")).collect()[0][0]
    assert epochs[-1] == newest


def test_stats_command_gapfilled(engine):
    engine.execute("create filter errs as 'error'")
    rows = engine.execute("stats errs window 1d rollup 1h").collect()
    buckets = sorted({r.bucket for r in rows})
    assert all(b2 - b1 == 3600 for b1, b2 in zip(buckets, buckets[1:]))
    # window: span <= 1d + one bucket
    assert buckets[-1] - buckets[0] <= 86400 + 3600


def test_stats_metric_flag(engine):
    engine.execute("create filter errs as 'error'")
    rows = engine.execute("stats errs window 1d rollup 1h -error").collect()
    assert all(r.metric == 2 for r in rows)


def test_search_sql(engine):
    df = engine.execute(
        "search SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    )
    assert df.count() > 0
    df2 = engine.execute("search SELECT count(*) AS n FROM logs")
    assert df2.collect()[0].n > 0


def test_unknown_command(engine):
    with pytest.raises(ValueError):
        engine.execute("frobnicate the logs")


def test_session_commands(engine, tmp_path):
    engine.session_path = str(tmp_path / "session.json")
    assert engine.execute("ping") == "pong"
    assert "alice" in engine.execute("auth alice secret")
    engine.execute("connect http://sup:1525")
    engine.execute("create filter errs as 'error'")
    engine.execute("configure supervisor max_msg_memory=5000")
    hist = engine.execute("history")
    assert "create filter errs as 'error'" in hist
    # history <id> re-executes
    idx = hist.index("ping")
    assert engine.execute(f"history {idx}") == "pong"
    engine.execute("save")

    # a fresh engine restores filters + config from the session file
    e2 = CloudPelicanEngine(
        engine.spark, engine.logs, session_path=engine.session_path
    )
    e2.load_session()
    assert e2.session["config"]["max_msg_memory"] == "5000"
    assert e2.catalog.get("errs").regex == "error"
    assert e2.describe_filter("errs")["id"] == engine.describe_filter("errs")["id"]

    engine.execute("clearhistory")
    assert engine.execute("history") == []
    engine.execute("clearsession")
    assert engine.session["config"] == {}


def test_topk_salted_matches_window(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from cloudpelican_lsd_spark.operators.tail import topk_per_group_salted
    from cloudpelican_lsd_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    expected = {
        (r.event_type, r.event_id)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .collect()
    }
    got = {
        (r.event_type, r.event_id)
        for r in topk_per_group_salted(ev, k=3).collect()
    }
    assert got == expected


def test_topk_salted_drops_null_values(spark):
    from pyspark.sql import functions as F
    from cloudpelican_lsd_spark.operators.tail import topk_per_group_salted

    rows = [(1, "a", 5.0), (2, "a", None), (3, "a", 7.0), (4, "a", 6.0),
            (5, "a", 1.0), (6, "b", None), (7, "b", 2.0)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    got = {(r.event_type, r.event_id)
           for r in topk_per_group_salted(df, k=3).collect()}
    assert got == {("a", 3), ("a", 4), ("a", 1), ("b", 7)}


def test_stats_rollup_zero_rejected(spark, sf_dir):
    import pytest
    from cloudpelican_lsd_spark.operators.stats import bucket_col

    with pytest.raises(ValueError, match="rollup"):
        bucket_col("ts_epoch", 0)


def test_grep_tokenizer_edge_cases():
    from cloudpelican_lsd_spark.operators.grep_pipeline import GrepPipeline

    # apostrophe inside a word is a literal, not a quote
    p = GrepPipeline.parse("cat all | grep don't | sort")
    assert p.greps[0].pattern == "don't"
    # unquoted backslash survives (shlex would eat it)
    p = GrepPipeline.parse(r"cat all | grep -e value=\d+")
    assert p.greps[0].pattern == r"value=\d+"
    # quoted regex containing the pipe char still re-joins
    p = GrepPipeline.parse("cat all | grep -e '(100|200)' | limit 5")
    assert p.greps[0].pattern == "(100|200)" and p.limit == 5


def test_grep_oracle_sql_special_chars():
    """contains() oracle is literal — LIKE metacharacters stay literal."""
    import duckdb
    from cloudpelican_lsd_spark.operators.grep_pipeline import GrepPipeline

    sql = GrepPipeline.parse("cat f | grep user_id | sort").to_duckdb_sql("t")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES ('has user_id here'),"
        " ('userXid other'), ('unrelated')) v(_raw)"
    )
    rows = [r[0] for r in con.execute(sql).fetchall()]
    assert rows == ["has user_id here"]


def test_empty_filter_set_surfaces(spark, sf_dir):
    from cloudpelican_lsd_spark.catalog import FilterCatalog
    from cloudpelican_lsd_spark.operators.fanout import match_counts_compiled
    from cloudpelican_lsd_spark.sources.tables import logs_view
    import duckdb

    logs = logs_view(spark, sf_dir).limit(10)
    assert match_counts_compiled(logs, []).count() == 0
    # empty catalog VALUES SQL parses in DuckDB
    sql = FilterCatalog().to_values_sql(include_temp=True)
    assert duckdb.connect().execute(f"SELECT COUNT(*) FROM {sql} f").fetchone()[0] == 0


def test_select_unknown_filter_raises(spark, sf_dir):
    import pytest
    from cloudpelican_lsd_spark.engine import CloudPelicanEngine
    from cloudpelican_lsd_spark.sources.tables import logs_view

    eng = CloudPelicanEngine(spark, logs_view(spark, sf_dir), sf_dir=sf_dir)
    with pytest.raises(ValueError, match="unknown filter"):
        eng.select("no_such_filter", None, 10)


def test_search_literal_not_rewritten(spark, sf_dir):
    from cloudpelican_lsd_spark.engine import CloudPelicanEngine
    from cloudpelican_lsd_spark.sources.tables import logs_view

    eng = CloudPelicanEngine(spark, logs_view(spark, sf_dir), sf_dir=sf_dir)
    eng.create_filter("errors", "error")
    results = spark.createDataFrame(
        [("x", "1", "error line")], ["filter_id", "row_id", "_raw"]
    )
    # the string literal 'from errors' must not be rewritten
    out = eng.search(
        "SELECT 'from errors' AS lit, COUNT(*) AS c FROM logs", results=results
    ).collect()
    assert out[0].lit == "from errors"


def test_cat_unknown_filter_raises(engine):
    import pytest

    with pytest.raises(ValueError, match="unknown filter"):
        engine.execute("cat no_such_filter | grep x")
    # explicit raw-stream alias still works
    assert engine.execute("cat logs | limit 1").collect() is not None


def test_malformed_commands_raise_usage_errors(engine):
    import pytest

    for bad in [
        "auth bob",
        "history abc",
        "history 999",
        "tail errs limit",
        "stats errs window",
        "configure supervisor keyonly",
    ]:
        with pytest.raises(ValueError):
            engine.execute(bad)


def test_unknown_filter_names_fail_loudly_everywhere(engine):
    """No silent fallbacks and no bare KeyErrors: a typo'd filter name
    raises ValueError('unknown filter: ...') on EVERY path — including
    select-with-where (which previously scanned the full stream on the
    where-regex, discarding the name), drop (which previously printed
    ok), and tail/stats/describe (which previously leaked KeyError)."""
    import pytest

    for cmd in (
        "select * from erors where 'disk' limit 3",  # typo + where-regex
        "drop filter erors",
        "tail erors",
        "stats erors",
        "describe filter erors",
        "drop filter ERRORS",  # case-mismatch: names are lowercase-only
    ):
        with pytest.raises(ValueError, match="unknown filter"):
            engine.execute(cmd)
    # only the literal stream:default form auto-creates the temp filter
    # (cloudpelican-lsd.go:508-511); other stream: forms get guidance
    with pytest.raises(ValueError, match="stream:default"):
        engine.execute("select * from stream:other where 'x' limit 1")


def test_explain_failing_inner_command_leaves_one_history_entry(engine):
    """`explain <failing query command>`: the recursive execute records
    the inner command before dispatch; it must be popped on FAILURE too,
    or `history -1` replays the failing inner command instead of the
    user's keystroke."""
    import pytest

    before = list(engine.execute("history"))
    with pytest.raises(ValueError):
        engine.execute("explain stats nosuchfilter window")
    after = list(engine.execute("history"))
    # exactly ONE new entry: the explain command itself
    assert after[: len(before)] == before
    assert after[len(before):] == ["explain stats nosuchfilter window"]


def test_catalog_rejects_reserved_and_duplicate_names():
    import pytest

    from cloudpelican_lsd_spark.catalog import FilterCatalog

    cat = FilterCatalog()
    cat.create("mine", "x")
    with pytest.raises(ValueError, match="exists"):
        cat.create("mine", "y")
    with pytest.raises(ValueError, match="reserved"):
        cat.create("__tmp__1700000000", "x")
    # $-vs-\Z: a trailing-newline name must fail the Go fullmatch rule
    # (Python's $ matches before the newline; \A..\Z does not)
    with pytest.raises(ValueError, match="invalid"):
        cat.create("errs\n", "x")


def test_catalog_temp_filters_never_collide_within_a_second():
    """Two `select ... where` temp filters created in the SAME second get
    distinct names and both survive (a dict overwrite would orphan the
    first filter's id while results rows still reference it); both stay
    TTL-parseable and expire."""
    from cloudpelican_lsd_spark.catalog import FilterCatalog

    cat = FilterCatalog()
    a = cat.create_temp("foo", 1700000000)
    b = cat.create_temp("bar", 1700000000)
    assert a.name != b.name
    assert cat.get(a.name).id == a.id and cat.get(b.name).id == b.id
    dropped = cat.expire_temp(1700000000 + 3700)
    assert sorted(dropped) == sorted([a.name, b.name])


def test_search_legacy_regexp_match(engine):
    """BigQuery-legacy REGEXP_MATCH (what grepsql.go:49 emits) runs as-is."""
    df = engine.execute(
        "search SELECT count(*) AS n FROM logs WHERE REGEXP_MATCH(_raw, 'value=[0-9]+')"
    )
    assert df.collect()[0].n > 0


def test_search_legacy_table_name(spark, sf_dir):
    """The reference's per-filter-per-day table name resolves to a
    (filter_id, date) slice of the partitioned results table."""
    from cloudpelican_lsd_spark.engine import CloudPelicanEngine
    from cloudpelican_lsd_spark.sources.tables import logs_view

    eng = CloudPelicanEngine(spark, logs_view(spark, sf_dir), sf_dir=sf_dir)
    f = eng.catalog.create("errors", "error")
    results = spark.createDataFrame(
        [
            (f.id, "2015-11-10", "error one"),
            (f.id, "2015-11-11", "error other day"),
            ("other-filter", "2015-11-10", "error other filter"),
        ],
        ["filter_id", "date", "_raw"],
    )
    table = f"cloudpelican_lsd_v1.{f.id.replace('-', '_')}_results_2015_11_10_v1"
    rows = eng.search(f"SELECT _raw FROM {table}", results=results).collect()
    assert [r._raw for r in rows] == ["error one"]
    # bracket-quoted form too
    rows2 = eng.search(f"SELECT _raw FROM [{table}]", results=results).collect()
    assert [r._raw for r in rows2] == ["error one"]
    # without a results table the reference's name is a clear error
    with pytest.raises(ValueError):
        eng.search(f"SELECT _raw FROM {table}")
    # inside a string literal it passes through untouched
    lit = eng.search(f"SELECT '{table}' AS t FROM logs LIMIT 1", results=results)
    assert lit.collect()[0].t == table


def test_search_legacy_translated_constructs(engine):
    """GROUP EACH BY / JOIN EACH (pure legacy shuffle hints) and
    EXACT_COUNT_DISTINCT translate; the literal-protection rule applies."""
    rows = engine.execute(
        "search SELECT event_type, count(*) AS n FROM events "
        "GROUP EACH BY event_type ORDER BY event_type"
    ).collect()
    assert len(rows) >= 3 and all(r.n > 0 for r in rows)
    got = engine.execute(
        "search SELECT EXACT_COUNT_DISTINCT(event_type) AS n FROM events"
    ).collect()[0].n
    exact = engine.execute(
        "search SELECT COUNT(DISTINCT event_type) AS n FROM events"
    ).collect()[0].n
    assert got == exact > 0
    # JOIN EACH drops the hint, the join itself still runs
    j = engine.execute(
        "search SELECT count(*) AS n FROM events e JOIN EACH events e2 "
        "ON e.event_id = e2.event_id"
    ).collect()[0].n
    assert j > 0
    # inside a string literal nothing is rewritten
    lit = engine.execute(
        "search SELECT 'GROUP EACH BY x' AS t FROM logs LIMIT 1"
    ).collect()[0].t
    assert lit == "GROUP EACH BY x"


def test_search_legacy_rejected_constructs(engine):
    """Legacy constructs with no sound ANSI translation fail loudly with
    guidance instead of silently mis-running (COVERAGE.md §S10 table)."""
    with pytest.raises(ValueError, match="FLATTEN.*explode"):
        engine.search("SELECT * FROM FLATTEN(logs, x)")
    with pytest.raises(ValueError, match="TABLE_DATE_RANGE.*BETWEEN"):
        engine.search(
            "SELECT * FROM TABLE_DATE_RANGE(cloudpelican_lsd_v1.x_results_, "
            "TIMESTAMP('2015-11-01'), TIMESTAMP('2015-11-10'))"
        )
    with pytest.raises(ValueError, match="WITHIN"):
        engine.search("SELECT COUNT(x) WITHIN RECORD AS n FROM logs")
    # single-identifier node scope (no dot) is also a legacy repeated-field
    # scope and must get the same guidance, not a bare Spark parse error
    with pytest.raises(ValueError, match="WITHIN"):
        engine.search("SELECT COUNT(x) WITHIN children AS n FROM logs")
    # ...but ANSI ordered-set aggregates (WITHIN GROUP) are valid Spark SQL
    v = engine.search(
        "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS p "
        "FROM events"
    ).collect()[0].p
    assert v is not None
    # the legacy comma-FROM (= UNION ALL) footgun: rejected, never CROSS
    # JOIN — with the day table on EITHER side of the comma
    with pytest.raises(ValueError, match="UNION ALL"):
        engine.search(
            "SELECT _raw FROM cloudpelican_lsd_v1.ab_results_2015_11_10_v1, "
            "cloudpelican_lsd_v1.ab_results_2015_11_11_v1"
        )
    with pytest.raises(ValueError, match="UNION ALL"):
        engine.search(
            "SELECT _raw FROM [cloudpelican_lsd_v1.ab_results_2015_11_10_v1]"
            ", logs"
        )
    # a legacy-dialect query (identified by any legacy marker) with a
    # comma list of PLAIN table names is the same UNION ALL footgun —
    # rejected even though no day-table ref abuts the comma
    with pytest.raises(ValueError, match="UNION ALL"):
        engine.search(
            "SELECT REGEXP_MATCH(_raw, 'x') AS m FROM logs, events"
        )
    with pytest.raises(ValueError, match="UNION ALL"):
        engine.search(
            "SELECT _raw FROM logs, events GROUP EACH BY _raw"
        )
    # a table name ENDING in a clause keyword must not abort the FROM
    # scan before the comma (the 'person' / 'my_union' word-boundary bug)
    with pytest.raises(ValueError, match="UNION ALL"):
        engine.search(
            "SELECT REGEXP_MATCH(_raw, 'x') AS m FROM person, events"
        )
    # pure-ANSI queries keep comma-join semantics (old-style inner join)
    n = engine.search(
        "SELECT count(*) AS n FROM events e, events e2 "
        "WHERE e.event_id = e2.event_id"
    ).collect()[0].n
    assert n > 0
    # commas inside subqueries/function calls are not FROM-list commas
    n2 = engine.search(
        "SELECT EXACT_COUNT_DISTINCT(concat(event_type, ',')) AS n "
        "FROM (SELECT event_type FROM events WHERE event_id IN (1, 2, 3))"
    ).collect()[0].n
    assert n2 >= 0
    # rejected names inside string literals still pass through untouched
    lit = engine.execute(
        "search SELECT 'FLATTEN(x, y)' AS t FROM logs LIMIT 1"
    ).collect()[0].t
    assert lit == "FLATTEN(x, y)"


def test_slack_command_adapter(engine):
    from cloudpelican_lsd_spark.engine import slack_command

    assert slack_command(engine, "ping") == "pong"
    out = slack_command(engine, "show filters")
    assert isinstance(out, str)
    engine.execute("create filter slackf as 'value='")
    chart = slack_command(engine, "stats slackf")
    assert chart.startswith("max ")
    # 12KB cap with truncation marker
    rows = slack_command(engine, "search SELECT _raw FROM logs", max_bytes=500)
    assert len(rows.encode()) <= 500 and rows.endswith("(truncated)")
    # errors become text, never exceptions
    assert slack_command(engine, "frobnicate").startswith("error:")


def test_help_lists_every_command(engine):
    out = engine.execute("help")
    for cmd in ("create filter", "tail", "search", "stats", "grep"):
        assert cmd in out


def test_slack_stats_honors_args(engine):
    from cloudpelican_lsd_spark.engine import slack_command

    engine.execute("create filter slackargs as 'value='")
    wide = slack_command(engine, "stats slackargs window 40d rollup 1d")
    narrow = slack_command(engine, "stats slackargs window 40d rollup 1d -error")
    assert wide.startswith("max ")
    # metric flag filters the series: the regular 'o' marks disappear
    assert "o" in wide and "o" not in narrow
    # bad args -> error text, not a default chart
    assert slack_command(engine, "stats slackargs frobnicate").startswith("error:")


def test_slack_row_truncation_marker(engine):
    from cloudpelican_lsd_spark.engine import slack_command

    out = slack_command(
        engine,
        "search SELECT event_id FROM logs "
        "UNION ALL SELECT event_id + 100000 FROM logs ORDER BY event_id",
    )
    assert out.endswith("... (truncated at 1000 rows)")
    assert len(out.split("\n")) == 1001


def test_explain_command(engine):
    engine.execute("create filter expf as 'error'")
    plan = engine.execute("explain cat expf | grep -v 404 | limit 5")
    assert "Scan parquet" in plan and ("GlobalLimit" in plan or "Limit" in plan)
    plan2 = engine.execute("explain search SELECT count(*) AS n FROM lineitem")
    assert "HashAggregate" in plan2 or "Aggregate" in plan2
    with pytest.raises(ValueError):
        engine.execute("explain ping")
    # side-effecting commands are rejected WITHOUT being executed
    engine.execute("create filter keepme as 'x'")
    with pytest.raises(ValueError):
        engine.execute("explain drop filter keepme")
    assert any(f.name == "keepme" for f in engine.catalog.list())
    # one user keystroke = one history entry
    n0 = len(engine.session["history"])
    engine.execute("explain search SELECT 1 AS one")
    assert len(engine.session["history"]) == n0 + 1


def test_explain_rejects_piped_side_effects(engine):
    """A pipe inside a side-effecting command's ARGUMENTS must not smuggle
    it past the explain whitelist (regex alternation is the normal case):
    the command is rejected with ValueError and never executed."""
    with pytest.raises(ValueError, match="does not produce a query"):
        engine.execute("explain create filter sneaky as 'err|warn'")
    assert not any(f.name == "sneaky" for f in engine.catalog.list(include_temp=True))
    cfg0 = dict(engine.session["config"])
    with pytest.raises(ValueError, match="does not produce a query"):
        engine.execute("explain configure supervisor k=a|b")
    assert engine.session["config"] == cfg0
    # a bare pipeline (no `cat ` prefix) is still explainable — that is
    # the dispatcher branch the pipe shorthand exists for
    engine.execute("create filter expp as 'error'")
    plan = engine.execute("explain expp | grep -v 404 | limit 5")
    assert "Scan parquet" in plan


def test_reference_e2e_pipeline_verbatim(engine):
    """The reference's own e2e smoke (cli/resources/tests/grep_sql.sh)
    runs verbatim through the engine grammar."""
    engine.execute("create filter errors as 'error'")
    df = engine.execute(
        "cat errors | grep -v 404 | grep -i checkout | grep -e \"(100|200)\""
        " | grep -v -i -e '404'"
    )
    # the synthesized corpus has no 'checkout' lines; the pipeline must
    # still plan and execute cleanly to an empty result
    assert df.columns == ["_raw"]
    assert df.count() == 0


def test_cli_module_pipe_and_exit_codes(sf_dir):
    """`python -m cloudpelican_lsd_spark`: -e command chains and piped
    stdin both drive the full engine grammar (reference CLI parity:
    cloudpelican-lsd.go -e flag, semicolon-separated), errors print as
    text and set exit code 1 without killing the console."""
    import subprocess
    import sys

    env = {**__import__("os").environ, "SPARK_GRAFT_SF_DIR": sf_dir}
    r = subprocess.run(
        [sys.executable, "-m", "cloudpelican_lsd_spark", "-e",
         "create filter cliweb as 'error'; cat cliweb | limit 2; help"],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=REPO_ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = r.stdout
    assert "error" in out           # matched log lines
    assert "show filters" in out    # help text
    # piped stdin: one good command, one bad → output for both, rc=1
    r = subprocess.run(
        [sys.executable, "-m", "cloudpelican_lsd_spark"],
        input="show filters\nnot a command at all\n",
        capture_output=True, text=True, timeout=300, env=env,
        cwd=REPO_ROOT,
    )
    assert r.returncode == 1
    assert "error: unknown command" in r.stdout
