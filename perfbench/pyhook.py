"""Python-worker daemon for the traced run only.

Spark starts its Python workers from this module
(``spark.python.daemon.module``); it wraps the public batch functions of
the Python-side layers, then hands over to ``pyspark.daemon``.  Forked
workers inherit the wrapped modules, so every call made inside a task
appends ``[function, seconds, n_in, n_out]`` to ``<pid>.jsonl`` in
``$PERFBENCH_HOOK_DIR``.  This is the only way to separate layers that
run fused inside one Arrow stage (the document gates and the line
kernel in ``build_training_corpus``).
"""

from __future__ import annotations

import json
import os
import time


def _install(out_dir: str) -> None:
    from ccspark import arrowgate, arrowkernel, sources

    def wrap(mod, name, call):
        orig = getattr(mod, name)

        def timed(*args, **kw):
            t0 = time.perf_counter()
            result, n_in, n_out = call(orig, *args, **kw)
            dt = time.perf_counter() - t0
            with open(os.path.join(out_dir, f"{os.getpid()}.jsonl"),
                      "a") as f:
                f.write(json.dumps([name, dt, n_in, n_out]) + "\n")
            return result
        setattr(mod, name, timed)

    def verdict(orig, raw):
        out = orig(raw)
        return out, len(raw), int(out[1].sum())

    def mask(orig, texts, *args, **kw):
        out = orig(texts, *args, **kw)
        return out, len(texts), int(out.sum())

    def records(orig, blob, *args, **kw):
        out = list(orig(blob, *args, **kw))
        return iter(out), len(out), sum(r[4] == "conversion" for r in out)

    wrap(arrowkernel, "verdict_batch", verdict)
    wrap(arrowgate, "c4_keep_batch", mask)
    wrap(arrowgate, "gopher_keep_batch", mask)
    wrap(sources, "parse_wet_bytes", records)


if __name__ == "__main__":
    _install(os.environ["PERFBENCH_HOOK_DIR"])
    from pyspark import daemon
    daemon.manager()
