"""Self-test of the benchmark at tiny size; exits non-zero on any miss.

    python3 perfbench/selftest.py

1. Salt: on the default seed's first rows, no parseable ``real`` page takes
   parser tier 1 or 2, no ``plain`` page takes tier 3 or 4, and the
   charset mix of the salted pages equals the one pinned in
   ``perfbench/pinned.json``.
2. Every phase and check at tiny size, in-process: the warm-up (90% base,
   tail, noop), a timed repetition (cold, noop, tail), and the output
   check of each.
3. The checks are not vacuous: a committed output with a duplicated data
   file, and a good output checked against a wrong pinned checksum, must
   each be reported as a failed operation.
4. ``run.py`` end to end at tiny size, with ``--trace 0`` and ``--trace 1``:
   exit 0, ``correct`` true, and every metric ``BENCHMARK.json`` lists.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402

TINY = 400
SALT_SAMPLE = 1000


def _expect(results: list, name: str, ok: bool, detail: str = "") -> None:
    results.append((name, ok))
    print(f"{'ok  ' if ok else 'FAIL'} {name} {detail}".rstrip(), flush=True)


def salt_mix(seed: int, n: int) -> dict:
    """Charset mix and parser-tier mix of the first ``n`` rows of both
    tables, measured with the traced kernel probe."""
    from perfbench.inputs import gen_rows
    from perfbench.salt import ENCODINGS
    from perfbench.trace import Tracer, _Probe, _extract_all

    out = {}
    for kind in ("plain", "real"):
        rows = gen_rows(kind, seed, range(n))
        probe = _Probe(Tracer())
        probe.install()
        try:
            _extract_all(rows, None)
        finally:
            probe.restore()
        out[f"{kind}_tiers"] = dict(sorted(probe.tiers.items()))
        if kind == "real":
            enc = Counter()
            for r in rows:
                h = r["html"] or b""
                label = next((lb for lb, _ in ENCODINGS if f'charset="{lb}"'.encode() in h[:4096]), None)
                enc[label or "utf-8/none"] += 1
            out["real_charsets"] = dict(sorted(enc.items()))
            out["real_sniffed"] = probe.charset["sniffed"]
    return out


def main() -> int:
    results: list = []
    bench._prepare_env(bench.WORK)
    from perfbench.checks import ChecksumLedger, load_pinned
    from perfbench.jobs import JobBench, Ops

    pinned_all = json.load(open(os.path.join(HERE, "pinned.json")))
    seed = bench.DEFAULT_SEED

    # 1. salt mix
    mix = salt_mix(seed, SALT_SAMPLE)
    tiers = mix["real_tiers"]
    _expect(results, "real pages avoid parser tiers 1-2",
            tiers.get("geo", 0) == 0 and tiers.get("fused", 0) == 0, str(tiers))
    _expect(results, "plain pages avoid parser tiers 3-4",
            mix["plain_tiers"].get("handler", 0) == 0 and mix["plain_tiers"].get("stdlib", 0) == 0,
            str(mix["plain_tiers"]))
    _expect(results, "salt mix equals the pinned one", mix == pinned_all.get("salt_mix"),
            json.dumps(mix))

    # 2 + 3. every phase and check once, in-process, then the negative checks
    ctx = bench._Context(seed)
    wl = bench.Workload("plain", TINY, 2, TINY // 2)
    keys = {"full": f"plain-s{seed}-n{TINY}", "prefix": ctx.prefix_key(wl, seed)}
    try:
        spark = ctx.session(2)
        jb = JobBench(spark, ctx.table("plain", seed, TINY), TINY, ctx.expected(TINY),
                      ctx.ledger, keys, wl.prefix_n, ctx.runs_dir)
        ops = Ops()
        runs = jb.warm_up(ops)
        rep = jb.repetition(ops)
        cold, noop, tail = rep["cold"], rep["noop"], rep["tail"]
        outs = [r["out"] for _, r in runs] + ([cold["out"], tail["out"]] if cold and tail else [])
        verdicts = [why for _, why in jb.check_outputs(outs)]
        _expect(results, "every phase runs and passes the output checks",
                ops.failed == 0 and noop is not None and verdicts == [None] * 3,
                f"attempted={ops.attempted} failed={ops.failed} {verdicts}")

        # duplicated data file: same digest, so the committed view keeps both
        data_dir = os.path.join(cold["out"], "data")
        src = sorted(f for f in os.listdir(data_dir) if f.startswith("part-"))[0]
        digest = src.rsplit("-", 1)[1]
        shutil.copy(os.path.join(data_dir, src), os.path.join(data_dir, f"part-99999-{digest}"))
        ops = Ops()
        for _, why in jb.check_outputs([cold["out"]]):
            if why is not None:
                ops.fail("cold (duplicated data file)", why)
        _expect(results, "a duplicated data file is a failed operation", ops.failed == 1)

        jb.ledger = ChecksumLedger(os.path.join(ctx.runs_dir, "wrong.json"), {keys["full"]: "0"})
        ops = Ops()
        for _, why in jb.check_outputs([tail["out"]]):
            if why is not None:
                ops.fail("tail (wrong pinned checksum)", why)
        _expect(results, "a wrong pinned checksum is a failed operation", ops.failed == 1)
        jb.ledger = ctx.ledger
        pinned = load_pinned()
        _expect(results, "the tiny output matches its pinned checksums",
                keys["full"] in pinned and keys["prefix"] in pinned
                and jb.check_outputs([tail["out"]])[0][1] is None)
    finally:
        ctx.close()
        shutil.rmtree(ctx.runs_dir, ignore_errors=True)

    # 4. the command itself, both modes
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        for wl_name in sorted(bench.WORKLOADS):
            rows = TINY if bench.WORKLOADS[wl_name].table == "plain" else TINY // 2
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl_name,
                   "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
                   "--rows", str(rows)]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            try:
                res = json.loads(r.stdout.strip().splitlines()[-1])
            except (ValueError, IndexError):
                res = {}
            missing = [m["name"] for m in spec[key] if m["name"] not in res.get("metrics", {})]
            _expect(results, f"run.py {wl_name} --trace {trace}",
                    r.returncode == 0 and res.get("correct") is True and not missing,
                    f"rc={r.returncode} missing={missing}")
    failed = [n for n, ok in results if not ok]
    print(json.dumps({"passed": len(results) - len(failed), "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
