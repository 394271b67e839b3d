"""Inventory of what the package ships, and its --py-files shape.

The module set and the public ``CCSparkCorpus`` methods are pinned
here, so adding a module or a facade method means updating this test
on purpose.  The zip test builds ``ccspark.zip`` with
``scripts/package.py`` and imports every module from it in a fresh
interpreter that cannot see the source tree, as a Spark executor
given ``--py-files`` does."""

from __future__ import annotations

import ast
import json
import pathlib
import re
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent

MODULES = {
    "__init__", "_zipstat", "api", "arrowgate", "arrowkernel",
    "checkpoint", "chunker", "daemon", "decontam", "dedup", "geo", "lid",
    "pipeline", "quality", "regexes", "scrub", "session",
    "skew", "sources", "sqlgen", "unicode_ranges",
}

FACADE_METHODS = {
    "process_wet", "process_pages", "build_training_corpus", "metrics",
    "lid_pass", "finalize", "aggregate_samples", "outlier_pass",
    "decontaminate", "dedup_near", "screen_new_crawl", "scrub",
    "mine_url_filters",
}

# public ccspark functions kept although no code outside their own def
# names them
UNREFERENCED_OK = {
    ("checkpoint", "read_corpus"):
        "the committed-only reader of a resumable build's corpus",
    ("scrub", "blocklist_filter"):
        "the north star's toxicity scrub; its only implementation",
}


def test_module_inventory():
    found = {p.stem for p in (ROOT / "ccspark").glob("*.py")}
    assert found == MODULES, found ^ MODULES


def test_facade_method_inventory():
    tree = ast.parse((ROOT / "ccspark" / "api.py").read_text())
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "CCSparkCorpus")
    found = {n.name for n in cls.body
             if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")}
    assert found == FACADE_METHODS, found ^ FACADE_METHODS


def test_no_unreferenced_public_functions():
    """Every public module-level function of ccspark/*.py is named (as a
    whole word) somewhere in ccspark/, perfbench/ or scripts/ besides
    its own def, or is listed in UNREFERENCED_OK: dead code goes."""
    texts = [p.read_text() for d in ("ccspark", "perfbench", "scripts")
             for p in (ROOT / d).rglob("*.py")]
    dead = set()
    for path in (ROOT / "ccspark").glob("*.py"):
        for n in ast.parse(path.read_text()).body:
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_"):
                word = re.compile(rf"\b{n.name}\b")
                if sum(len(word.findall(t)) for t in texts) <= 1:
                    dead.add((path.stem, n.name))
    assert dead == set(UNREFERENCED_OK), dead ^ set(UNREFERENCED_OK)


IMPORT_ALL = """
import importlib, importlib.util, json, sys
zip_path, names = sys.argv[1], json.loads(sys.argv[2])
assert importlib.util.find_spec("ccspark") is None, sys.path
sys.path.insert(0, zip_path)
for name in names:
    mod = importlib.import_module(name)
    assert mod.__file__.startswith(zip_path), (name, mod.__file__)
print(len(names))
"""


def test_py_files_zip_imports_every_module(tmp_path):
    subprocess.run([sys.executable, str(ROOT / "scripts" / "package.py"),
                    str(tmp_path)], check=True, capture_output=True)
    zip_path = tmp_path / "ccspark.zip"
    with zipfile.ZipFile(zip_path) as zf:
        files = [n for n in zf.namelist() if n.endswith(".py")]
    assert {pathlib.PurePosixPath(n).stem for n in files
            if n.count("/") == 1} == MODULES
    names = sorted(n[:-3].replace("/", ".").removesuffix(".__init__")
                   for n in files)
    # -I: no PYTHONPATH, no user site and neither the cwd nor a script
    # dir on sys.path, so the source tree cannot serve ccspark
    out = subprocess.run(
        [sys.executable, "-I", "-c", IMPORT_ALL, str(zip_path),
         json.dumps(names)],
        cwd=tmp_path, capture_output=True, text=True)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split()[-1] == str(len(names))


def test_perfbench_trace_targets_resolve():
    """Every name the traced benchmark run (``--trace 1``) wraps by
    getattr resolves: the layer functions and facade methods of
    perfbench/trace.py and the batch functions perfbench/pyhook.py wraps
    in the Python workers (read from its ``wrap(module, name, ...)``
    calls)."""
    import importlib

    from ccspark.api import CCSparkCorpus
    from perfbench import trace

    # this is why quality.domain_quality stays: LAYER_FUNCS wraps it
    for mod, fname, _ in trace.LAYER_FUNCS:
        assert callable(getattr(importlib.import_module(mod), fname, None)), \
            (mod, fname)
    for name in trace.API_METHODS:
        assert callable(getattr(CCSparkCorpus, name, None)), name
    hook = ast.parse((ROOT / "perfbench" / "pyhook.py").read_text())
    wrapped = {(c.args[0].id, c.args[1].value) for c in ast.walk(hook)
               if isinstance(c, ast.Call) and getattr(c.func, "id", "")
               == "wrap"}
    assert wrapped >= {("arrowkernel", "verdict_batch"),
                       ("arrowgate", "c4_keep_batch"),
                       ("arrowgate", "gopher_keep_batch"),
                       ("sources", "parse_wet_bytes")}, wrapped
    for mod, name in wrapped:
        assert callable(getattr(importlib.import_module(f"ccspark.{mod}"),
                                name, None)), (mod, name)
