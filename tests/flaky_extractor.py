"""A ``PageExtractor`` whose page and alias kernels raise on a task's
first attempt, and a driver that runs ``KgPipeline`` with it.

``FlakyExtractor`` travels inside the extractor broadcast like any
extractor, so the pipeline code gets no test hook.  Each injected fault
touches a marker file named after its method, stage and partition.

Run as a script (``python flaky_extractor.py <workdir>``), it starts
Spark at ``local[2,2]`` (a task may fail once and is retried), builds
one lake with a plain ``PageExtractor`` and one with ``FlakyExtractor``
over the same 60 synth pages, and prints one JSON line:
``{"clean": {stage: [rows, fingerprint]}, "flaky": {...},
"faults": [marker names]}``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

from pyspark import TaskContext

from deepie_spark.operators.extract import PageExtractor


class FlakyExtractor(PageExtractor):
    def __init__(self, *args, marker_dir: str, **kwargs):
        self.marker_dir = marker_dir
        super().__init__(*args, **kwargs)

    def _fail_first_attempt(self, what: str) -> None:
        ctx = TaskContext.get()  # None on the driver
        if ctx is not None and ctx.attemptNumber() == 0:
            Path(self.marker_dir, f"{what}-{ctx.stageId()}-{ctx.partitionId()}").touch()
            raise RuntimeError(f"injected fault in {what}")

    def tokenize_page(self, text):
        self._fail_first_attempt("tokenize_page")
        return super().tokenize_page(text)

    def extract_tokenized_py(self, prepared):
        self._fail_first_attempt("extract_tokenized_py")
        return super().extract_tokenized_py(prepared)

    def _alias_tokens(self, alias):
        self._fail_first_attempt("_alias_tokens")
        return super()._alias_tokens(alias)


def _lineage(pipe) -> dict:
    return {
        r["stage"]: [int(r["output_rows"]), int(r["fingerprint"])]
        for r in pipe.lake.lineage().collect()
    }


def main(workdir: str) -> None:
    from flaky_extractor import FlakyExtractor  # importable by the workers

    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.plans.pipeline import KgPipeline
    from deepie_spark.session import get_spark
    from deepie_spark.sources.synth import corpus_dataframes, gen_world

    spark = get_spark(app_name="flaky", master="local[2,2]", shuffle_partitions=2)
    spark.sparkContext.addPyFile(os.path.abspath(__file__))
    markers = Path(workdir, "faults")
    markers.mkdir(parents=True)
    world = gen_world()
    pages_df, _gold, alias_df = corpus_dataframes(spark, 60)
    out = {}
    for name, ex in (
        ("clean", PageExtractor(SYNTH_SCHEMA, world.alias_rows)),
        ("flaky", FlakyExtractor(SYNTH_SCHEMA, world.alias_rows,
                                 marker_dir=str(markers))),
    ):
        pipe = KgPipeline(spark, str(Path(workdir, name)), ex, run_id="r1")
        pipe.run(pages_df, alias_df)
        out[name] = _lineage(pipe)
    out["faults"] = sorted(p.name for p in markers.iterdir())
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
