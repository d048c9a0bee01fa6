"""Self-test of the benchmark's checking and statistics, without Spark.

    python3 perfbench/run.py --self-test

Feeds check.py a run in which one op returns a wrong digest and one op
throws, and asserts that both are reported as failed, that neither is timed
into a metric, and that the digest does not depend on row order. Exits
non-zero on the first broken expectation.
"""
import check


def part(name, key, s, rows, digest, error=""):
    return {"name": name, "check": key, "layer": "summarize", "s": s,
            "input_rows": 100, "rows": rows, "digest": digest, "error": error,
            "extra": {}}


def op(i, phase, s, parts):
    return {"i": i, "phase": phase, "traced": False, "s": s,
            "cpu_s": 2 * s, "parts": parts}


def main():
    rows = [("https://replay.invalid/proj1/", "Name", "proj1"),
            ("https://replay.invalid/proj1/", "Version", "1.1.0"),
            ("a", None, 1.0)]
    hashes = [check.row_hash(r) for r in rows]
    good = check.digest(hashes)
    assert good == check.digest(list(reversed(hashes))), "digest depends on order"
    assert good != check.digest(hashes[:2]), "digest ignores a row"
    exp = {"kg_canonical": (3, good)}

    ok = [part("kg_canonical", "kg_canonical", 1.0, 3, good)]
    result = {
        "session_s": 1.0, "session_cpu_s": 2.0, "materialize_s": [1.0, 1.0, 1.0],
        "materialize_cpu_s": [3.0, 1.0, 2.0], "prepare_s": 0.0, "prepare_cpu_s": 0.5,
        "warmup_s": 0.0, "peak_rss_mb": 100.0,
        "ops": [
            op(0, "cold", 5.0, [part("kg_canonical", "kg_canonical", 5.0, 3, good)]),
            op(1, "timed", 1.0, ok),
            # a wrong result: right row count, wrong digest
            op(2, "timed", 0.1, [part("kg_canonical", "kg_canonical", 0.1, 3,
                                      "0" * 16)]),
            # a throwing op, and a part it leaves unchecked
            op(3, "timed", 0.2, [part("append_delta", "", 0.1, 0, ""),
                                 part("kg_canonical", "kg_canonical", 0.1, -1, "",
                                      "java.lang.IllegalStateException: boom")]),
            op(4, "timed", 3.0, ok),
        ]}
    ops = check.verify(result["ops"], exp)
    failed = [o["i"] for o in ops if not o["ok"]]
    assert failed == [2, 3], f"failed ops {failed}, expected [2, 3]"
    assert check.error_rate(ops) == 0.4
    m, _ = check.summary(result)
    # only ops 1 and 4 are timed: a failed op adds no seconds
    assert m["op_s_p50"][0] == 2.0, m["op_s_p50"]
    assert m["op_s_tail"][0] == 3.0, m["op_s_tail"]
    assert m["input_rows_per_s"][0] == 200 / 4.0, m["input_rows_per_s"]
    assert m["cold_s"][0] == 5.0
    assert m["setup_s"][0] == 2.0 + 2.0 + 0.5, m["setup_s"]

    # a run whose cold op failed reports no cold time
    result["ops"][0]["parts"][0]["digest"] = "1" * 16
    check.verify(result["ops"], exp)
    assert check.summary(result)[0]["cold_s"][0] is None

    assert check.tail(list(range(30))) == (19, 100.0 * 20 / 30, 30)
    assert check.tail([3.0, 1.0]) == (3.0, 100.0, 2)
    print("self-test passed: broken ops are reported as failed, not as seconds")


if __name__ == "__main__":
    main()
