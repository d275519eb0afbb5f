"""Guard against test-only engine surface growing back.

Every module-level function, class and UPPER_CASE constant in
``lakerunner_spark/`` must be used by the program, be a registered
query, or sit in :data:`KEEP` with the reason it stays. The program is
``lakerunner_spark/``, ``bench.py``, ``__spark_entry__.py``, ``tools/``
and ``perfbench/``; tests do not count. A use is an AST name, attribute
or import of the definition's name outside the definition's own body —
a docstring or comment mention is not one.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "lakerunner_spark"
CONSTANT = re.compile(r"^_?[A-Z][A-Z0-9_]*$")

# "module.name" (relative to lakerunner_spark) -> why it stays unused
KEEP = {
    "api.serve": "README: the HTTP adapter over QueryAPI's routes",
    "sources.objectstore.configure_s3a": "README ADR: config-only S3 surface",
    "streaming.kafka.kafka_ingest_stream": "README ADR: config-only Kafka source",
    "sources.otel.read_otlp_traces": "README: OTLP trace ingest",
    "streaming.dedup.run_dedup_stream": "README Layout: streaming incremental dedup",
    "dataops.dedup.exact_dedup": (
        "reference for tests/test_streaming_dedup.py: the batch answer "
        "run_dedup_stream must equal"
    ),
    "operators.ddsketch.with_sketch_column": (
        "README Layout: map-typed mergeable DDSketch rollup columns"
    ),
    "operators.ddsketch.merge_sketch_column": (
        "README Layout: map-typed mergeable DDSketch rollup columns"
    ),
    "operators.ddsketch.sketch_column_quantile": (
        "README Layout: map-typed mergeable DDSketch rollup columns"
    ),
    "operators.ddsketch.fold_bucket_list": (
        "reference for tests/test_cook.py: the pair lists the fused "
        "cook cascade must reproduce"
    ),
    "operators.ddsketch.merge_bucket_pairs": (
        "reference for tests/test_cook.py: the pair lists the fused "
        "cook cascade must reproduce"
    ),
    "operators.native_histogram.native_histogram_merge": (
        "README native histograms: build/merge are single-shuffle "
        "HashAggregate pairs"
    ),
    "operators.native_histogram.nh_downscale": (
        "reference for tests/test_streaming_dataprep.py's in-stream "
        "downscaled build"
    ),
    "sources.chq_sketch.sketch_quantile": (
        "reference for tests/test_chq_sketch_interop.py"
    ),
    "sources.chq_sketch.engine_bucket_quantiles": (
        "reference for tests/test_cook.py's per-tier sketch percentiles"
    ),
    "functions.hashing.fnv64a_py": (
        "reference for tests/test_hashing.py and tests/test_properties.py"
    ),
    "plans.pruning.trigrams": (
        "reference for tests/test_properties.py: the index-side "
        "decomposition build_fingerprint_index computes in Spark"
    ),
    "dataops.similarity.kmeans_centroids": (
        "reference for tests/test_multimodal_ann.py: trained cells for "
        "ivf_topk(centroids=...)"
    ),
}


def _program_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return [f for f in files if f.exists()]


def _uses(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return out


def _definitions(tree: ast.Module):
    for st in tree.body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield st.name, st
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            for t in targets:
                if isinstance(t, ast.Name) and CONSTANT.match(t.id):
                    yield t.id, st


def _registered(st: ast.stmt) -> bool:
    for d in getattr(st, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name == "register":
            return True
    return False


def _unused() -> dict[str, str]:
    """module.name -> file:line of every definition the program never
    uses."""
    used: set[str] = set()
    defs = []
    for path in _program_files():
        tree = ast.parse(path.read_text(), str(path))
        for st in tree.body:
            own = getattr(st, "name", None)  # a def's own body is no use
            used.update(u for u in _uses(st) if u != own)
        if path.is_relative_to(PACKAGE):
            module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
            where = path.relative_to(ROOT)
            defs += [
                (f"{module}.{name}", name, st, f"{where}:{st.lineno}")
                for name, st in _definitions(tree)
            ]
    return {
        key: where
        for key, name, st, where in defs
        if name not in used and not _registered(st)
    }


def test_every_engine_definition_is_used_or_kept():
    stray = sorted(
        f"{where} {key}" for key, where in _unused().items() if key not in KEEP
    )
    assert not stray, "used only by tests or by nothing; delete or keep:\n" + (
        "\n".join(stray)
    )


def test_keep_list_names_only_unused_definitions():
    """A kept entry the program now uses (or that no longer exists)
    is stale: drop it so the list stays the set of exceptions."""
    stale = sorted(set(KEEP) - set(_unused()))
    assert not stale, f"stale KEEP entries: {stale}"
