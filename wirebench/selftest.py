#!/usr/bin/env python3
"""Self-test of the benchmark's checks.

Runs ingest_mixed once with --perturb, which corrupts one expected
TPC-H answer and the expected checksum of the SELECT * export, and
confirms that the run reports exactly those two operations as failed
and the run as incorrect. Exits 0 when the checks caught both.

  python3 wirebench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                      "ingest_mixed", "--seed", "7", "--seconds", "1", "--trace", "0",
                      "--perturb"], stdout=subprocess.PIPE, text=True, timeout=900)
result = json.loads(out.stdout.strip().splitlines()[-1])
ok = out.returncode == 0 and result["correct"] is False and result["failed"] == 2
print(json.dumps({"selftest": "pass" if ok else "FAIL", "result": result}))
sys.exit(0 if ok else 1)
