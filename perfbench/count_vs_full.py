#!/usr/bin/env python3
"""Time queries by `count()`, by a full write to the `noop` sink and by
`collect()`, on warm code, and print the plan `count()` optimizes to for
the first query (perfbench.CountVsFull).

    python3 perfbench/gen.py --seed 1 --sf 0.1 --out .bench_build/sf0.1
    python3 perfbench/count_vs_full.py --data .bench_build/sf0.1 --reps 3 \\
        q44_minhash_sig q40_token_count q01_agg q127_prefix_join
"""
import argparse
import os
import subprocess

import run

ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
ap.add_argument("--data", required=True)
ap.add_argument("--reps", type=int, default=3)
ap.add_argument("queries", nargs="+")
a = ap.parse_args()
cp, opts = run.build()
work = run.fresh(os.path.join(run.BUILD, "count_vs_full"))
subprocess.check_call(["java", f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={work}",
                       f"-Dspark.local.dir={work}"] + opts +
                      ["-cp", cp, "perfbench.CountVsFull", os.path.abspath(a.data),
                       str(a.reps), str(run.CORES)] + a.queries, cwd=work)
