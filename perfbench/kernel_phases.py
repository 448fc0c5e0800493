"""Driver-side phase split of the extraction kernel.

``PageExtractor.extract_pages_py`` is the fused kernel's per-batch body.
This module calls it once over a page sample.  For the duration of that
call, the public callables it is built from are wrapped in timers:

    tokenize      PageExtractor.tokenize_page
    trigger_scan  TriggerModel.scan (the per-page scan inside scan_pages)
    forward       encoder.forward / encoder.forward_ragged
    decode        model.subject_support / model.po_support, and
                  decode_subjects_sparse / decode_po_sparse as bound in
                  deepie_spark.operators.extract
    assemble      assemble_triples as bound in deepie_spark.operators.extract

A wrapped call made while another phase is open counts to the outer
phase.  ``other`` is the rest of the call: batching, token ids, list
building.  Every wrapper is removed before ``run_phases`` returns.
"""

from __future__ import annotations

import time
from contextlib import ExitStack, contextmanager

PHASES = ("tokenize", "trigger_scan", "forward", "decode", "assemble")


class _Timer:
    def __init__(self):
        self.secs = dict.fromkeys(PHASES, 0.0)
        self.open: str | None = None
        self.tokens: list[int] = []
        self.hit_pages = 0
        self.subjects = 0

    def wrap(self, fn, phase: str, note=None):
        def wrapped(*a, **kw):
            if self.open is not None:
                return fn(*a, **kw)
            self.open = phase
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                self.secs[phase] += time.perf_counter() - t0
                self.open = None
            if note is not None:
                note(out)
            return out
        return wrapped


@contextmanager
def _patched(owner, attr: str, value):
    """Set ``owner.attr`` for the block.  An attribute that lived on a
    class (an instance's method) is removed again rather than reset."""
    own = attr in vars(owner)
    old = vars(owner).get(attr)
    setattr(owner, attr, value)
    try:
        yield
    finally:
        if own:
            setattr(owner, attr, old)
        else:
            delattr(owner, attr)


def run_phases(ex, texts: list[str]) -> dict:
    import deepie_spark.operators.extract as extract_mod
    from deepie_spark.functions.scoring import TriggerModel

    tm = _Timer()
    model = ex.model
    enc = getattr(model, "encoder", None)

    def on_tokenize(out):
        tm.tokens.append(len(out[1]))

    def on_scan(out):
        tm.hit_pages += bool(out.hits)

    def on_subjects(out):
        tm.subjects += len(out)

    patches = [
        (ex, "tokenize_page", tm.wrap(ex.tokenize_page, "tokenize", on_tokenize)),
        (TriggerModel, "scan", tm.wrap(TriggerModel.scan, "trigger_scan", on_scan)),
        (model, "subject_support", tm.wrap(model.subject_support, "decode")),
        (model, "po_support", tm.wrap(model.po_support, "decode")),
        (extract_mod, "decode_subjects_sparse",
         tm.wrap(extract_mod.decode_subjects_sparse, "decode", on_subjects)),
        (extract_mod, "decode_po_sparse",
         tm.wrap(extract_mod.decode_po_sparse, "decode")),
        (extract_mod, "assemble_triples",
         tm.wrap(extract_mod.assemble_triples, "assemble")),
    ]
    if enc is not None:
        patches += [
            (enc, "forward", tm.wrap(enc.forward, "forward")),
            (enc, "forward_ragged", tm.wrap(enc.forward_ragged, "forward")),
        ]
    with ExitStack() as stack:
        for owner, attr, value in patches:
            stack.enter_context(_patched(owner, attr, value))
        t0 = time.perf_counter()
        out = ex.extract_pages_py(texts)
        total = time.perf_counter() - t0

    n_pages = max(len(texts), 1)
    limit = ex.max_seq_length - 2
    metrics = {
        f"kernel.{ph}_ms_per_page": 1000.0 * tm.secs[ph] / n_pages for ph in PHASES
    }
    metrics.update({
        "kernel.other_ms_per_page": 1000.0 * (total - sum(tm.secs.values())) / n_pages,
        "kernel.pages": len(texts),
        "kernel.hit_pages": tm.hit_pages,
        "kernel.subjects": tm.subjects,
        "kernel.triples": sum(len(x) for x in out),
        "kernel.hit_page_ratio": tm.hit_pages / n_pages,
        "kernel.truncated_page_ratio": sum(n >= limit for n in tm.tokens) / n_pages,
    })
    return metrics
