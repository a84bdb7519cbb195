"""The benchmark under `perfbench/` imports library and test names and
calls a few constructors. A refactor that renames one of them breaks the
benchmark while the rest of the suite stays green, so this module reads
`perfbench/*.py` (it never edits it) and checks that every
`from tomixpanel_spark...` / `from tests...` import still resolves and
that the call shapes the benchmark uses still bind."""

from __future__ import annotations

import ast
import importlib
import inspect
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")
ROOTS = ("tomixpanel_spark", "tests")


def _bench_imports() -> list[tuple[str, str, str | None]]:
    """(file, module, name) for each repo import in perfbench; name is
    None for a plain `import module`."""
    out = []
    for fn in sorted(os.listdir(PERFBENCH)):
        if not fn.endswith(".py"):
            continue
        with open(os.path.join(PERFBENCH, fn)) as f:
            tree = ast.parse(f.read(), fn)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                if node.module.split(".")[0] in ROOTS:
                    out.extend((fn, node.module, a.name) for a in node.names)
            elif isinstance(node, ast.Import):
                out.extend(
                    (fn, a.name, None) for a in node.names if a.name.split(".")[0] in ROOTS
                )
    return out


def test_perfbench_imports_resolve():
    found = _bench_imports()
    assert found, "no tomixpanel_spark/tests imports found under perfbench/"
    missing = []
    for fn, module, name in found:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # `from package import submodule`
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{fn}: from {module} import {name}")
    assert not missing, missing


def test_perfbench_call_shapes():
    from tomixpanel_spark import pipeline
    from tomixpanel_spark.sinks.batching import batch_payload
    from tomixpanel_spark.sinks.http import HttpSink, HttpSinkConfig
    from tomixpanel_spark.sources.amplitude import AmplitudeSource

    src = AmplitudeSource("", "", "", "", "/staged")
    assert src.staging_dir == "/staged"
    inspect.signature(src.read).bind(None, "/staged")
    cfg = HttpSinkConfig(url="http://sink.invalid/engage", strict=False)
    assert cfg.strict is False
    assert HttpSinkConfig(url="http://sink.invalid/import").backoff_s > 0
    inspect.signature(HttpSink(cfg, dict).send).bind(None, 4)
    inspect.signature(pipeline.run).bind(None, {}, concurrency=4)
    inspect.signature(pipeline.build).bind(None, {})
    assert batch_payload([b"{}"], gzip=False) == b"[{}]"
