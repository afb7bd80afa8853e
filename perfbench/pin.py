#!/usr/bin/env python3
"""Pin the answers of the analytics workload and confirm them with DuckDB.

Usage, from the root of the repository:

    python3 perfbench/pin.py

For each input variant the seed can select, the benchmark driver writes the
inputs, builds the caches, runs every query once and stores each result as
parquet with its row count and fingerprint. tools/selfcheck.py then compares
every result with the query's DuckDB oracle (its union-find and replay
alternates included). Only if every compare passes are the row counts and
fingerprints written to perfbench/pins.json, which the benchmark checks each
pass against. Needs the duckdb and pyarrow Python packages.
"""
import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import run


def main():
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    cp, _ = run.build(time.time() + run.BUILD_LIMIT_S)
    root = tempfile.mkdtemp(prefix="pin-", dir=run.BUILD)
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    try:
        cmd = (["java", f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}"]
               + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--pin", root])
        if subprocess.call(cmd) != 0:
            sys.exit("pinning run failed")
        with open(os.path.join(root, "pins.json")) as f:
            pins = json.load(f)
        selfcheck = os.path.join(run.ROOT, "tools", "selfcheck.py")
        for v in sorted(pins["pins"]):
            d = os.path.join(root, v)
            r = subprocess.run([sys.executable, selfcheck, os.path.join(d, "data"),
                                os.path.join(d, "out")], capture_output=True, text=True)
            print(f"{v}:\n{r.stdout}")
            if r.returncode != 0:
                sys.exit(f"DuckDB oracle compare failed on {v}; pins not written")
        pins["confirmed"] = (f"tools/selfcheck.py, all queries OK on every variant, "
                             f"{datetime.date.today().isoformat()}")
        with open(os.path.join(run.BENCH, "pins.json"), "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {os.path.join(run.BENCH, 'pins.json')}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
