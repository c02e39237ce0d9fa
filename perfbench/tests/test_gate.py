"""The correctness gate passes on real pipeline output and fails when a
sink file, a summary table or an API answer is corrupted."""

import glob
import itertools
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import gate as gatemod
import inputs

SEED = 21


@pytest.fixture(scope="module")
def loaded(tmp_path_factory):
    from logparser_spark.api import LogFilter, LogPipelineAPI
    from logparser_spark.plans.pipeline import run_aggregates, run_pipeline
    from logparser_spark.session import build_session

    work = str(tmp_path_factory.mktemp("work"))
    raw, truth, _ = inputs.ensure_fixture(work, SEED, rows=3000, files=2)
    spark = build_session(app_name="perfbench-gate-test", master="local[2]",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    root = os.path.join(work, "sink")
    run_pipeline(spark, raw, root)
    run_aggregates(spark, root)

    api = LogPipelineAPI(spark, root)
    answers, pages = [], {}
    calls = list(itertools.islice(inputs.query_stream(SEED, truth), 40))
    for call in dict.fromkeys(calls):  # distinct, in first-issue order
        flt = LogFilter(*call.flt) if call.flt else None
        params = dict(call.params)
        cursor = None
        if call.endpoint == "logs_after":
            last = pages[call.cursor_source()][-1]
            cursor = gatemod.normalize([(last.time, last.doc_id)])[0]
            rows = api.get_logs_after(last.time, last.doc_id, flt, params["size"]).collect()
        else:
            rows = api.collect_cached(call.endpoint, flt, **params)
            if call.endpoint == "logs":
                pages[call] = rows
        answers.append((call, cursor, rows))
    yield {"raw": raw, "truth": truth, "root": root, "answers": answers, "work": work}
    spark.stop()


def copy_sink(loaded, name):
    dst = os.path.join(loaded["work"], name)
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(loaded["root"], dst)
    return dst


def run_gate(root, loaded, answers=None):
    g = gatemod.Gate()
    con = gatemod.connect(root)
    gatemod.check_load(g, con, root, loaded["raw"], loaded["truth"])
    gatemod.check_summaries(g, con, root)
    gatemod.check_calls(g, con, loaded["answers"] if answers is None else answers)
    con.close()
    return g


def test_gate_passes_on_pipeline_output(loaded):
    g = run_gate(loaded["root"], loaded)
    assert g.failed == 0, g.failures()
    endpoints = {call.endpoint for call, _, _ in loaded["answers"]}
    assert {"logs", "logs_after", "top_urls"} <= endpoints
    assert len(g.checks) == 3 + 8 + len(loaded["answers"])


def _file_of(root, doc_id):
    con = duckdb.connect()
    pattern = os.path.join(root, "data", "*", "*", "*.parquet")
    return con.execute(
        f"SELECT filename FROM read_parquet('{pattern}', filename = true) WHERE doc_id = ?",
        [doc_id]).fetchone()[0]


def test_gate_fails_on_a_dropped_sink_row(loaded):
    root = copy_sink(loaded, "dropped")
    path = sorted(glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True))[0]
    table = pq.read_table(path)
    pq.write_table(table.slice(1), path)
    failed = {name for name, _ in run_gate(root, loaded).failures()}
    assert {"load.footer_rows", "load.categories"} <= failed


def test_gate_fails_on_corrupted_tokens(loaded):
    root = copy_sink(loaded, "tokens")
    doc_id = loaded["truth"]["token_sample"][0]
    path = _file_of(root, doc_id)
    table = pq.read_table(path)
    hit = pc.equal(table["doc_id"], doc_id)
    tokens = table["tokens"].to_pylist()
    idx = hit.to_pylist().index(True)
    tokens[idx] = list(reversed(tokens[idx]))
    col = table.schema.get_field_index("tokens")
    table = table.set_column(col, table.schema.field(col), pa.array(tokens, table["tokens"].type))
    pq.write_table(table, path)
    failed = {name for name, _ in run_gate(root, loaded).failures()}
    assert failed == {"load.tokens"}


def test_gate_fails_on_a_corrupted_summary(loaded):
    root = copy_sink(loaded, "summary")
    path = glob.glob(os.path.join(root, "summary", "top_urls", "*.parquet"))[0]
    table = pq.read_table(path)
    counts = table["request_count"].to_pylist()
    counts[0] += 1
    col = table.schema.get_field_index("request_count")
    table = table.set_column(col, table.schema.field(col),
                             pa.array(counts, table["request_count"].type))
    pq.write_table(table, path)
    failed = {name for name, _ in run_gate(root, loaded).failures()}
    # the API's unfiltered top_urls answers were recorded before the
    # corruption, so only the summary check sees it
    assert failed == {"summary.top_urls"}


def test_gate_fails_on_a_wrong_query_answer(loaded):
    answers = list(loaded["answers"])
    i = next(i for i, (c, _, rows) in enumerate(answers) if c.endpoint == "logs" and rows)
    call, cursor, rows = answers[i]
    wrong = [tuple(r) for r in rows]
    wrong[0] = (wrong[0][0] + "x",) + wrong[0][1:]
    answers[i] = (call, cursor, wrong)
    failed = [name for name, _ in run_gate(loaded["root"], loaded, answers).failures()]
    assert failed == [f"query.{i}.logs"]
