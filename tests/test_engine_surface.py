"""Guard against test-only engine surface growing back.

Every module-level function, class and UPPER_CASE constant in
``lakerunner_spark/`` must be used by the program, be a registered
query, or sit in :data:`KEEP` with the reason it stays. The program is
``lakerunner_spark/``, ``bench.py``, ``__spark_entry__.py``, ``tools/``
and ``perfbench/``; tests do not count. A use is an AST name, attribute
or import of the definition's name outside the definition's own body —
a docstring or comment mention is not one, and neither is an import in
a package ``__init__.py`` (a re-export would keep dead code alive).

Two more guards run over the same program files. Every defaulted
parameter of an engine function must be set by some program call, or
sit in :data:`KEEP_PARAMS` with the reason it stays; a default no
caller overrides is a constant. And every import a program file makes
must be used there; a side-effect import says so with ``# noqa``.
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
    "dataops.dedup.minhash_signatures": (
        "reference for tests/test_dataops_assembly.py: the exploded "
        "signatures minhash_signatures_narrow must equal"
    ),
    "dataops.dedup.jaccard_verify": (
        "reference for tests/test_dataops_assembly.py: the exploded "
        "Jaccard jaccard_verify_narrow must equal"
    ),
    "maintenance.retention.sweep_retention": (
        "README Layout: the maintenance plane's retention sweep"
    ),
    "sources.readers.read_csv": "README: CSV ingest (reader S3)",
    "sources.readers.read_jsonlines": "README: JSON-lines ingest (reader S4)",
}


def _program_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return [f for f in files if f.exists()]


def _uses(node: ast.AST, imports: bool = True) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif imports and isinstance(n, (ast.Import, ast.ImportFrom)):
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
        reexports = path.name == "__init__.py"
        for st in tree.body:
            own = getattr(st, "name", None)  # a def's own body is no use
            used.update(u for u in _uses(st, not reexports) if u != own)
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


# "module.qualname(param)" -> why a default no program call overrides
# stays a parameter: a deployment setting, or a test seam that reaches
# a behaviour fixture-scale data cannot
_CHECKPOINT = "deployment setting: where iterative plans truncate lineage"
_ENGINE = (
    "test seam: selects the JVM reference twin that a "
    "test_*_engines_equal test compares the Arrow path against"
)
_DECODER = (
    "test seam: injects a fake decoder; the real one needs payloads "
    "no fixture carries"
)
_S3 = "deployment setting: README ADR, config-only S3 surface"
_KAFKA = "deployment setting: README ADR, config-only Kafka source"
_TRIGGER = "deployment setting: the streaming trigger (catch up and stop)"
KEEP_PARAMS: dict[str, str] = {
    "api.serve(port)": "deployment setting: the HTTP adapter's port",
    "session.get_spark(master)": "deployment setting: the cluster master",
    "session.get_spark(shuffle_partitions)": (
        "deployment setting: shuffle width for the cluster size"
    ),
    "dataops.dedup.substring_dedup_pairs(checkpoint_dir)": _CHECKPOINT,
    "dataops.dedup.semantic_dedup(checkpoint_dir)": _CHECKPOINT,
    "dataops.dedup.semantic_dedup_sampled(checkpoint_dir)": _CHECKPOINT,
    "dataops.graph.connected_components(checkpoint_dir)": _CHECKPOINT,
    "dataops.graph.connected_components(local_threshold)": (
        "test seam: forces the distributed label propagation, which "
        "fixture-size edge sets never reach"
    ),
    "dataops.graph.connected_components(max_rounds)": (
        "test seam: the non-convergence error, which fixture graphs "
        "never reach"
    ),
    "dataops.dedup._pairs_within_clusters(engine)": _ENGINE,
    "dataops.dedup.semantic_dedup_sampled(engine)": _ENGINE,
    "dataops.text.winnow_fingerprints(engine)": _ENGINE,
    "dataops.multimodal.extract_features(decoder)": _DECODER,
    "sources.otel.read_otlp_traces(decoder)": _DECODER,
    "maintenance.retention.sweep_retention(now_ms)": (
        "test seam: the clock the retention horizon is measured from"
    ),
    "sources.chq_sketch.encode_chq_sketch(index_offset)": (
        "test seam: builds reference-format sketches with a nonzero "
        "index offset, which engine-written sketches never carry, so "
        "tests reach the decoder's offset path"
    ),
    "sources.objectstore.configure_s3a(endpoint)": _S3,
    "sources.objectstore.configure_s3a(path_style_access)": _S3,
    "sources.objectstore.configure_s3a(extra)": _S3,
    "sources.objectstore.configure_s3a(skipped_out)": _S3,
    "streaming.kafka.kafka_ingest_stream(starting_offsets)": _KAFKA,
    "streaming.kafka.kafka_ingest_stream(max_offsets_per_trigger)": _KAFKA,
    "streaming.dedup.run_dedup_stream(available_now)": _TRIGGER,
    "streaming.pipeline.run_cook_stream(available_now)": _TRIGGER,
    "streaming.pipeline.run_file_ingest_stream(available_now)": _TRIGGER,
    "streaming.pipeline.run_cook_stream(sketch_accuracy)": (
        "deployment setting: cook_metrics's chq_sketch switch, passed "
        "through to every streamed batch"
    ),
    "streaming.pipeline.run_cook_stream(sketch_percentiles)": (
        "deployment setting: cook_metrics's sketch-derived percentiles, "
        "passed through to every streamed batch"
    ),
}


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef, nested: bool):
    """(name, positional index or None, default) of each defaulted
    parameter. A nested def's non-literal default binds a value of the
    enclosing scope (``_lb=lb``): a closure binding, not a parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = [(arg, i) for i, arg in enumerate(pos)][len(pos) - len(a.defaults):]
    out = [(arg.arg, i, d) for (arg, i), d in zip(pairs, a.defaults)]
    out += [(arg.arg, None, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    return [o for o in out if not nested or isinstance(o[2], ast.Constant)]


def _functions(tree: ast.Module):
    """(qualname, def, enclosing class name or None, nested?) of every
    function and method."""

    def walk(node, prefix, cls, nested):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield prefix + ch.name, ch, cls, nested
                yield from walk(ch, f"{prefix}{ch.name}.", None, True)
            elif isinstance(ch, ast.ClassDef):
                yield from walk(ch, f"{prefix}{ch.name}.", ch.name, nested)
            else:
                yield from walk(ch, prefix, cls, nested)

    yield from walk(tree, "", None, False)


def _callee(f: ast.expr, aliases: dict[str, str] | None = None) -> str | None:
    """The called (or referenced) function's own name: an attribute's
    name, or a bare name resolved through ``import f as g``."""
    if isinstance(f, ast.Name):
        return (aliases or {}).get(f.id, f.id)
    return getattr(f, "attr", None)


def _call_sites():
    """callee name -> [(positional count, keywords, splat?)] over every
    program call (``functools.partial(fn, ...)`` counts as a call of
    ``fn``), and the names the program also reads as values."""
    sites: dict[str, list] = {}
    values: set[str] = set()
    for path in _program_files():
        called: set[int] = set()
        tree = ast.parse(path.read_text(), str(path))
        aliases = {
            a.asname: a.name.rsplit(".", 1)[-1]
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
            if a.asname
        }
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            fn, args = n.func, n.args
            if _callee(fn) == "partial" and args:
                called.add(id(fn))
                fn, args = args[0], args[1:]
            name = _callee(fn, aliases)
            if name is None:
                continue
            called.add(id(fn))
            splat = any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in n.keywords
            )
            kws = {k.arg for k in n.keywords if k.arg}
            sites.setdefault(name, []).append((len(args), kws, splat))
        for n in ast.walk(tree):
            if id(n) not in called and isinstance(getattr(n, "ctx", None), ast.Load):
                name = _callee(n, aliases)
                if name:
                    values.add(name)
    return sites, values


def _unset_params() -> dict[str, str]:
    """module.qualname(param) -> file:line of every defaulted parameter
    that no program call sets, by keyword, by position or through a
    splat. A function the program also reads as a value (an alias, a
    callback, a dispatch table) counts as having every parameter set.
    ``QueryAPI`` handlers share one ``params`` argument by contract."""
    sites, values = _call_sites()
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        tree = ast.parse(path.read_text(), str(path))
        for qual, fn, cls, nested in _functions(tree):
            name = cls if fn.name == "__init__" else fn.name
            if name in values:
                continue
            static = any(_callee(d) == "staticmethod" for d in fn.decorator_list)
            self_arg = int(cls is not None and not static)
            for arg, i, _ in _defaulted(fn, nested):
                if cls == "QueryAPI" and arg == "params":
                    continue
                if not any(
                    arg in kws or splat or (i is not None and i - self_arg < npos)
                    for npos, kws, splat in sites.get(name, [])
                ):
                    where = f"{path.relative_to(ROOT)}:{fn.lineno}"
                    out[f"{module}.{qual}({arg})"] = where
    return out


def test_every_defaulted_parameter_has_a_caller_or_is_kept():
    stray = sorted(
        f"{where} {key}"
        for key, where in _unset_params().items()
        if key not in KEEP_PARAMS
    )
    assert not stray, (
        "defaulted parameters no program call sets; inline the default "
        "or keep:\n" + "\n".join(stray)
    )


def test_keep_params_names_only_unset_parameters():
    stale = sorted(set(KEEP_PARAMS) - set(_unset_params()))
    assert not stale, f"stale KEEP_PARAMS entries: {stale}"


def test_every_program_import_is_used():
    """An import the file never reads is not a use of the imported
    definition; it only hides dead code from the guard above."""
    stray = []
    for path in _program_files():
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src, str(path))
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for st in tree.body:  # an ``__all__`` entry exports the name
            if isinstance(st, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in st.targets
            ):
                read |= {
                    e.value
                    for e in ast.walk(st.value)
                    if isinstance(e, ast.Constant)
                }
        for n in ast.walk(tree):
            if not isinstance(n, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(n, "module", None) == "__future__":
                continue
            if "# noqa" in lines[n.lineno - 1]:
                continue
            for a in n.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in read:
                    stray.append(f"{path.relative_to(ROOT)}:{n.lineno} {bound}")
    assert not stray, "unused imports:\n" + "\n".join(stray)
