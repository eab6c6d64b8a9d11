"""Self-test of the benchmark at sf0.001 (`run.py --selftest`).

Checks that the benchmark reports what it claims to:
  1. every end-to-end and per-layer metric of BENCHMARK.json is printed
     with its name and unit;
  2. a corrupted expected hash is caught and counted as failed;
  3. a throwing row counts as failed, never as a fast latency sample;
  4. in the traced run, each row's construct + exec spans cover its wall
     time within 10%;
  5. the tracing overhead (traced minus untraced warm_pass_s) is reported;
  6. rows that stage files write them under the run's own scratch root.

The expected hashes are derived live from the DuckDB oracle at sf0.001.
"""
import io
import json
import os
from contextlib import redirect_stdout

ROWS = ["f1_filter", "g2_group_agg", "j1_join_inner", "q1_pricing",
        "d1_dedup_exact", "t3_tokens", "e3_stream_dedup", "s1_csv_scan"]
WARM_PASSES = 2


def main(run, classpath, cfg):
    bench = run.load_json(os.path.join(run.ROOT, "BENCHMARK.json"))
    data_dir = os.path.join(run.HERE, cfg["selftest_data"])
    cores = run.nproc()
    expected = run.oracle_hashes(classpath, data_dir, ROWS)
    assert set(expected) == set(ROWS), f"oracle failed for {set(ROWS) - set(expected)}"
    failures = []

    def check(ok, what):
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            failures.append(what)

    def harness(rows, trace, exp, tag):
        return run.harness_run(classpath, data_dir, rows, 1, WARM_PASSES, trace,
                               cores, run.TABLES, exp, f"selftest-{tag}")

    def printed(names_units, metrics):
        buf = io.StringIO()
        with redirect_stdout(buf):
            run.print_metrics("selftest", metrics)
            line = run.result_line(1, 0, metrics)
        out = json.loads(line)["metrics"]
        text = buf.getvalue()
        return all(n in out and out[n]["unit"] == u and f" {n} " in text and
                   text.split(f" {n} ")[1].split("\n")[0].strip().endswith(u)
                   for n, u in names_units)

    # 1 + clean run: every row matches the oracle
    doc = harness(ROWS, False, expected, "clean")
    attempted, failed = run.row_stats(doc)
    check(failed == 0 and attempted > 0, f"clean run: {failed}/{attempted} failed")
    m, notes = run.end_to_end(doc)
    check(printed([(e["name"], e["unit"]) for e in bench["end_to_end"]], m),
          "every end-to-end metric printed with its name and unit")

    # 2 + 3: corrupted hash and throwing row, in one run
    bad = dict(expected)
    bad["g2_group_agg"] = "0" * 64
    doc = harness(ROWS + ["perfbench_throws"], False, bad, "faults")
    rows = [r for p in doc["passes"] for r in p["rows"]]
    g2 = [r for r in rows if r["row"] == "g2_group_agg" and "checked" in r]
    check(len(g2) == 2 and all("hash mismatch" in r.get("error", "") for r in g2),
          "corrupted expected hash caught on the cold and the last warm pass")
    throws = [r for r in rows if r["row"] == "perfbench_throws"]
    check(bool(throws) and all("error" in r for r in throws),
          "throwing row recorded as failed in every pass")
    attempted, failed = run.row_stats(doc)
    check(failed == len(throws) + len(g2),
          f"failed count {failed} = throws {len(throws)} + mismatches {len(g2)}")
    m2, notes2 = run.end_to_end(doc)
    warm_ok = sum(1 for p in doc["passes"] if p["kind"] == "warm"
                  for r in p["rows"] if "error" not in r)
    check(notes2["warm_samples"] == warm_ok,
          "latency samples exclude failed executions")
    check(abs(notes2["failed_frac"] - failed / attempted) < 1e-12 and failed > 0,
          f"failed_frac {notes2['failed_frac']:.4f} reported")

    # 4 + 5: traced run
    doc = harness(ROWS, True, expected, "traced")
    lm = run.per_layer(doc, cores)
    check(printed([(e["name"], e["unit"]) for e in bench["per_layer"]], lm),
          "every per-layer metric printed with its name and unit")
    worst = min(((r["construct_s"] + r["exec_s"]) / r["wall_s"], r["row"])
                for p in doc["passes"] if p["traced"] for r in p["rows"])
    check(worst[0] >= 0.9, f"spans cover row wall time: worst {worst[0]:.3f} ({worst[1]})")
    check("trace.overhead_s" in lm,
          f"tracing overhead reported: {lm['trace.overhead_s'][0]:+.4f} s "
          f"(traced {lm['trace.warm_pass_s'][0]:.4f} s, "
          f"untraced {lm['trace.untraced_warm_pass_s'][0]:.4f} s)")
    check(lm["sources.staged_mb"][0] > 0 and lm["sources.output_mb.cold"][0] > 0,
          f"staged files land under the run's scratch root: "
          f"{lm['sources.staged_mb'][0]:.4f} MB staged, "
          f"{lm['sources.output_mb.cold'][0]:.4f} MB written in the cold pass")
    print(f"selftest: {len(failures)} failed")
    return 1 if failures else 0
