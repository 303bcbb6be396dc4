"""Record the query_mix reference: rows and canonical digest of each frozen
query over a corpus, from the current program.

  python3 perfbench/reference.py CORPUS NAME... > perfbench/queries.json

CORPUS names a directory beside the program's default corpus (sf0.01).
Confirm the recorded digests against the DuckDB oracle once: run
`graft.Verify` over the same corpus, check its dump with `tools/check.py`,
and compare `verify.query_digest` of each dumped query with this file.
"""
import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run as bench  # noqa: E402
import verify  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("corpus")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    r = bench.Run(argparse.Namespace(workload="reference", seed=0, seconds=0, trace=0),
                  build.ensure())
    try:
        s = bench.Session(r, args.corpus, False, "reference")
        queries = {}
        for name in args.names:
            t = time.time()
            ok, rest = s.call(f"run {name}")
            cold = time.time() - t
            t = time.time()
            s.call(f"run {name}")
            warm = time.time() - t
            out = os.path.join(r.work, "out", name)
            ok2, rest2 = s.call(f"save {name} {out}")
            if not (ok and ok2):
                raise SystemExit(f"{name}: {rest} {rest2}")
            rows, digest = verify.query_digest(out)
            reg = s.call(f"registry {name}")[1]
            print(f"{name} {reg} rows={rows} cold={cold:.2f}s warm={warm:.2f}s",
                  file=sys.stderr)
            queries[name] = {"rows": rows, "digest": digest}
        s.close()
    finally:
        r.close()
    json.dump({"corpus": args.corpus, "queries": queries}, sys.stdout,
              indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
