"""Every keyword passed to ``block``, ``candidate_pairs`` or
``block_delta`` in the library, the scripts and the benchmarks exists in
the callee's signature. The probes and benchmarks never run in the test
suite, so a removed parameter would otherwise break them silently."""
import ast
import inspect
from pathlib import Path

from bib_dedupe_spark.operators import block as block_mod

ROOT = Path(__file__).resolve().parent.parent
SOURCES = ["bib_dedupe_spark", "scripts", "bench.py", "bench_extra.py",
           "perfbench"]
CALLEES = {
    name: set(inspect.signature(getattr(block_mod, name)).parameters)
    for name in ("block", "candidate_pairs", "block_delta")
}


def _files():
    for src in SOURCES:
        path = ROOT / src
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _calls(path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        name = getattr(func, "id", None) or getattr(func, "attr", None)
        if name in CALLEES:
            yield name, node


def test_blocking_call_keywords_exist():
    seen, bad = 0, []
    for path in _files():
        for name, call in _calls(path):
            seen += 1
            for kw in call.keywords:
                if kw.arg is not None and kw.arg not in CALLEES[name]:
                    rel = path.relative_to(ROOT)
                    bad.append(f"{rel}:{call.lineno} {name}({kw.arg}=)")
    assert seen >= 10, "found too few blocking calls: the scan is broken"
    assert not bad, bad
