"""Task-retry fault injection: the pipeline's page and link kernels
fail on every task's first attempt, Spark retries them, and the output
is unchanged.  Runs in a subprocess because retries need a session
built with task maxFailures > 1 (``local[2,2]``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def test_pipeline_unchanged_under_task_retry(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(HERE.parent), str(HERE), env.get("PYTHONPATH", "")]
    )
    env.setdefault("DEEPIE_DRIVER_MEM", "2g")
    out = subprocess.run(
        [sys.executable, str(HERE / "flaky_extractor.py"), str(tmp_path)],
        capture_output=True, text=True, timeout=900, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])

    # every kernel really failed once, in some task of its stage
    kinds = {f.split("-", 1)[0] for f in res["faults"]}
    assert kinds == {"tokenize_page", "extract_tokenized_py", "_alias_tokens"}
    for stage in ("triples", "linked", "entity_clusters", "kg_triples",
                  "kg_entities"):
        assert res["flaky"][stage] == res["clean"][stage], stage
    assert res["flaky"] == res["clean"]
    assert res["clean"]["kg_triples"][0] > 0
