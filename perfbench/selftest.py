"""Toy-size self-test of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

Runs every workload at toy size and checks that:

- every metric named in BENCHMARK.json is printed with its unit, in the
  untraced run (end-to-end metrics) and the traced run (per-layer metrics);
- traced and untraced operations produce identical outputs (the crawl's
  traced repetition must equal the untraced one; every seen batch's novel
  count is exact);
- a corrupted output counts as one failed op: a crawl_log row dropped, or
  a novel count off by one.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def bench(workload: str, trace: int) -> tuple[dict, str]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "0",
                       "--trace", str(trace)])
    out = buf.getvalue()
    if rc != 0 or "failed:" in out:
        print(out)
    if rc != 0:
        raise SystemExit(f"FAIL: {workload} trace={trace}: exit {rc}")
    return json.loads(out.strip().splitlines()[-1]), out


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}", flush=True)


@contextlib.contextmanager
def patched(owner, attr: str, make):
    original = getattr(owner, attr)
    setattr(owner, attr, make(original))
    try:
        yield
    finally:
        setattr(owner, attr, original)


def drop_log_row(original):
    calls = {"n": 0}

    def outputs(result):
        out = original(result)
        calls["n"] += 1
        if calls["n"] == 2:  # the timed repetition (1 is the warm-up)
            out["log"] = out["log"][:-1]
        return out

    return outputs


def novel_off_by_one(original):
    calls = {"n": 0}

    def filter_and_add(self, candidates, insert=True):
        out = original(self, candidates, insert)
        calls["n"] += 1
        if calls["n"] == SEEN_WARMUP + 1:  # the first timed batch
            out = out.limit(out.count() - 1)
        return out

    return filter_and_add


SEEN_WARMUP = workloads.SEEN_WARMUP_BATCHES


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads.POLITE_DOMAINS = 12
    workloads.POLITE_PAGES = 60
    workloads.SEEN_BATCH = 2_000

    for name in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got, text = bench(name, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            units = {k: v["unit"] for k, v in got["metrics"].items()}
            expect(units == want, f"{name} trace={trace}: every {key} metric with its unit")
            expect(all(f"# {k} = " in text for k in want), f"{name} trace={trace}: all printed")
            expect(got["failed"] == 0 and got["attempted"] >= 3,
                   f"{name} trace={trace}: {got['attempted']} ops, none failed"
                   + (", traced outputs equal untraced" if trace else ""))

    from web_scraper_spark.operators.seen import BloomURLSeenSet

    with patched(workloads, "_crawl_outputs", drop_log_row):
        got, _ = bench("crawl_polite", 0)
    expect(got["failed"] == 1 and not got["correct"], "a dropped crawl_log row is one failed op")
    with patched(BloomURLSeenSet, "filter_and_add", novel_off_by_one):
        got, _ = bench("seen_volume", 0)
    expect(got["failed"] == 1 and not got["correct"], "a novel count off by one is one failed op")
    print("selftest passed")


if __name__ == "__main__":
    try:
        main()
    finally:
        run.stop_jvm()
