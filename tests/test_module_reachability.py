"""Which package modules can a program entry point actually reach?

Walks the ``ast`` imports (function-local ones included) from every
program entry point: the catalog, the CLI, the driver contract, the
bench, the benchmark harness and the scripts. A package ``__init__``
re-export is not a use: ``from etl_stream_spark.cdc import X`` reaches
only the module that defines ``X``. The unreached modules must be
exactly the library surface kept below, each with the reason it stays;
a new module nothing reaches fails here until it is wired in or kept
on purpose. Needs no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "etl_stream_spark"

ROOTS = [
    REPO / PKG / "catalog.py",
    REPO / PKG / "__main__.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    *sorted((REPO / "scripts").glob("*.py")),
]

#: Modules no entry point reaches, kept as the library surface of the
#: reference's features (SURVEY.md ids) or of an open ROADMAP item.
KEPT_UNREACHED = {
    "etl_stream_spark.sources.config_db": "S3 pipeline config-table scan",
    "etl_stream_spark.sources.file_source": "file-backed CDC test stream",
    "etl_stream_spark.sources.initial_copy": "S2 initial table copy",
    "etl_stream_spark.sources.kafka_source": "S1 Kafka CDC source",
    "etl_stream_spark.streaming.manager": "PipelineManager reconciliation (S3)",
    "etl_stream_spark.streaming.metrics": "Prometheus exposition (ROADMAP item 8)",
    "etl_stream_spark.streaming.progress": "progress listener (ROADMAP item 8)",
    "etl_stream_spark.streaming.resilience": "circuit breaker and retry backoff",
    "etl_stream_spark.streaming.windows": "watermarked windows and dedup",
    "etl_stream_spark.schema.type_mapping": "Postgres type mapping",
    "etl_stream_spark.schema.pk_detection": "primary-key heuristic",
    "etl_stream_spark.schema.inference": "value-based type inference",
    "etl_stream_spark.functions.serialization": "P4/P5 value serialization",
}


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


def _imports(path: Path):
    """(module, names) for every import in the file; ``names`` is None
    for a plain ``import module``."""
    modname = _module_name(path)
    is_pkg = path.name == "__init__.py"
    tree = ast.parse(path.read_text(), str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, None
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = modname.split(".")
                anchor = anchor[: len(anchor) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            yield base, [a.name for a in node.names]


def reached_modules() -> set[str]:
    modules = _package_modules()
    reached: set[str] = set()

    def use(mod: str, names: list[str] | None) -> None:
        if mod not in modules:
            return
        path = modules[mod]
        if path.name != "__init__.py":
            visit(mod)
            return
        # a package: follow only the names asked of it
        for name in names or []:
            sub = f"{mod}.{name}"
            if sub in modules:
                use(sub, None)
                continue
            for src, exported in _imports(path):
                if exported and name in exported:
                    use(src, [name])

    def visit(mod: str) -> None:
        if mod in reached:
            return
        reached.add(mod)
        for src, names in _imports(modules[mod]):
            use(src, names)

    for root in ROOTS:
        if _module_name(root) in modules:
            visit(_module_name(root))
        else:
            for src, names in _imports(root):
                use(src, names)
    return reached


def test_unreached_modules_are_exactly_the_kept_surface():
    modules = {
        m for m, p in _package_modules().items() if p.name != "__init__.py"
    }
    unreached = modules - reached_modules()
    assert sorted(unreached - set(KEPT_UNREACHED)) == [], (
        "modules no entry point reaches: wire them in or delete them"
    )
    assert sorted(set(KEPT_UNREACHED) - unreached) == [], (
        "kept modules that are now reached (or gone): drop them from the list"
    )
