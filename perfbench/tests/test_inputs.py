import filecmp
import itertools
import os

import inputs

TRUTH = {
    "vocab": {
        "ip": ["10.0.0.1", "10.0.0.2", "10.1.0.3"],
        "username": ["user1", "user2", "svc_acct_1"],
        "status_code": [200, 404, 500],
        "action": ["TCP_MISS", "TCP_HIT"],
        "domain": ["d01.example.com", "d02.example.com"],
    },
    "epoch_range": [1709251200_000000, 1709510400_000000],
}


def first(seed, n=300):
    return list(itertools.islice(inputs.query_stream(seed, TRUTH), n))


def test_query_stream_is_a_function_of_the_seed():
    assert first(7) == first(7)
    assert first(7) != first(8)


def test_drop_order_and_drop_calls_are_seeded():
    files = [f"part-{i:04d}.parquet" for i in range(4)]
    assert inputs.drop_order(3, files) == inputs.drop_order(3, list(reversed(files)))
    assert sorted(inputs.drop_order(3, files)) == files
    for drop in range(4):
        assert inputs.drop_calls(3, TRUTH, drop) == inputs.drop_calls(3, TRUTH, drop)
    endpoints = {c.endpoint for d in range(3) for c in inputs.drop_calls(3, TRUTH, d)}
    assert endpoints == {"statistics", "top_urls", "top_users", "statuses", "actions",
                         "logs", "logs_after"}


def test_blocks_hold_the_stated_mix():
    calls = first(5, 100)
    repeats = [i for i, c in enumerate(calls) if c.cacheable and c in calls[:i]]
    assert len(repeats) / len(calls) == inputs.REPEAT_SHARE
    assert all(i % 10 in (2, 6, 9) for i in repeats)
    n = inputs.BLOCK_CALLS
    assert n == 10
    for b in range(10):
        block = calls[b * n:(b + 1) * n]
        assert [block[i].path for i in (0, 1, 3, 4, 7, 8)] == [
            "summary", "live", "page", "page", "live", "summary"]
        assert [c.endpoint for c in block].count("logs_after") == 1


def test_keyset_call_follows_its_offset_page():
    calls = first(9, 200)
    for i, c in enumerate(calls):
        if c.endpoint == "logs_after":
            assert calls[i - 1] == c.cursor_source()


def test_fixture_bytes_and_truth_are_seeded(tmp_path):
    a, truth_a, _ = inputs.ensure_fixture(str(tmp_path / "a"), 11, rows=3000, files=2)
    b, truth_b, _ = inputs.ensure_fixture(str(tmp_path / "b"), 11, rows=3000, files=2)
    c, truth_c, _ = inputs.ensure_fixture(str(tmp_path / "c"), 12, rows=3000, files=2)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 2
    assert all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)
    assert truth_a == truth_b
    assert truth_a != truth_c
    assert sum(truth_a["categories"].values()) == truth_a["rows"] == 3000
    # a second call reuses the cache
    assert inputs.ensure_fixture(str(tmp_path / "a"), 11, rows=3000, files=2)[2] == 0.0
