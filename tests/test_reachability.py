"""No production code that only tests reach.

An AST fixpoint over the package's top-level functions and classes.
The roots are every ``@register``ed query, every def in ``cli.py``,
all module-level code of the package, and the repo's entry scripts
(``bench.py``, ``bench_parity.py``, ``__spark_entry__.py``,
``perfbench/``, ``tools/``). A def is live when a live unit names it
(a bare name or an attribute of that name), and a live def's whole
body is a live unit. Matching is by name only, so the analysis can
call dead code live but never live code dead. ``tests/`` is not a
root: a def that only tests call fails here unless ``ALLOWED`` gives
the reason it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "clickhouse_only_importer_prototype_spark"
ENTRY_SCRIPTS = [
    REPO / "bench.py",
    REPO / "bench_parity.py",
    REPO / "__spark_entry__.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    *sorted((REPO / "tools").glob("*.py")),
]

_JDBC = (
    "the paper's ClickHouse JDBC sink; it needs the ClickHouse JDBC driver"
    " jar on the classpath, which neither Spark nor this package bundles"
)
_ENCODER = (
    "reference encoder the codec tests build their inputs with (the"
    " queries synthesize payloads in SQL)"
)
ALLOWED = {
    "sinks.clickhouse.write_clickhouse": _JDBC,
    "sinks.clickhouse._write_jdbc": _JDBC,
    "sinks.clickhouse.jdbc_writer_options": _JDBC,
    "sources.tsv.read_tsv_with_quarantine": (
        "becomes the importer run report's quarantined-row count"
    ),
    "operators.multimodal.encode_bmp": _ENCODER,
    "operators.multimodal.encode_wav": _ENCODER,
    "operators.multimodal.encode_avi": _ENCODER,
    "operators.multimodal._u16b": _ENCODER,
    "operators.multimodal._u32b": _ENCODER,
    "operators.text.unpersist_span_stats": (
        "the only release of the span family's persisted frames; its"
        " fate belongs with the persisted-frames cleanup"
    ),
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "register":
            return True
    return False


def _unreached_defs() -> set[str]:
    defs: dict[str, tuple[str, set[str]]] = {}
    live: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        parts = path.relative_to(PKG).with_suffix("").parts
        module = ".".join(p for p in parts if p != "__init__")
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names = _names(node)
                defs[f"{module}.{node.name}"] = (node.name, names)
                if _registered(node) or module == "cli":
                    live |= names | {node.name}
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                live |= _names(node)
    for path in ENTRY_SCRIPTS:
        live |= _names(ast.parse(path.read_text()))
    grew = True
    while grew:
        grew = False
        for name, names in defs.values():
            if name in live and not names <= live:
                live |= names
                grew = True
    return {key for key, (name, _) in defs.items() if name not in live}


def test_no_package_def_is_reached_only_from_tests():
    unreached = _unreached_defs()
    assert sorted(unreached - ALLOWED.keys()) == [], (
        "give these defs a production caller or delete them with their tests"
    )
    assert sorted(ALLOWED.keys() - unreached) == [], (
        "these allowlisted defs are reachable now: drop them from ALLOWED"
    )
