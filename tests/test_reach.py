"""Reach gate: no library code that nothing runs.

Every top-level function and class in ``det_module_spark/`` must be
reached from the engine's entry points, or be named in ``KEEP`` (the
det-module contract and the test references) or ``DEFERRED`` (known
dead code whose deletion is scheduled). A new helper that no query,
``Engine`` path, bench or tool calls fails here until it is deleted or
listed with a reason.

The closure is static and name-based. Roots are every name used in
``__spark_entry__.py``, ``bench.py``, ``tools/*.py``, ``perfbench/*.py``
and the package's module-level code (constants, registries, decorator
tables and the ``__init__`` re-exports), plus the ``KEEP`` and
``DEFERRED`` entries. A definition is reached when a reached scope uses
its name as a variable, an attribute, an import or an identifier string
(``perfbench`` wraps layer functions by attribute name); its body then
adds its own names. Matching names rather than bindings can only
over-reach: a dead definition that shares a name with a live one is
missed, a live one is never flagged.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "det_module_spark"

ENTRY_GLOBS = ("__spark_entry__.py", "bench.py", "tools/*.py", "perfbench/*.py")

# name -> reason: a SURVEY.md row id for the det-module contract, or
# "test reference" for a brute-force twin a test checks a kept path by
KEEP = {
    "operators.queue.check_id": "SURVEY S2: point lookup by id",
    "operators.queue.get_status": "SURVEY S3: status point read",
    "operators.queue.update_status": "SURVEY K6: status update sink",
    "sources.csv_source.read_extract_csv": "SURVEY S6: extract CSV scan",
    "sources.vector.read_geojson_boundaries": "SURVEY S10: boundary source",
    "sources.sinks.write_request_bundle": "SURVEY K1-K4: request bundle sinks",
    "streaming.cache_sink.stream_to_cache": "SURVEY 2.10: streaming cache sink",
    "streaming.intake.track_request_completion": "SURVEY 2.10: request intake",
    "streaming.intake.track_request_completion_tws": "SURVEY 2.10: request intake",
    "operators.geometry.polygon_cell_coverage": "test reference",
    "operators.setsim.jaccard_allpairs_bruteforce": "test reference",
    "operators.fuzzyjoin.edit1_pairs_bruteforce": "test reference",
    "sources.raster.synthetic_raster": "test reference",
}

# name -> the tests that still pin it. Nothing outside tests/ reaches
# these; each goes together with its tests, a few tests per change.
DEFERRED = {
    "sources.jsonl.read_jsonl": "test_jsonl",
    "sources.jsonl.split_corrupt": "test_jsonl",
    "sources.jsonl.write_jsonl": "test_jsonl",
    "sources.xml_source.read_xml": "test_wave12_ops",
    "sources.xml_source.write_xml": "test_wave12_ops",
    "sources.fixedwidth.read_fixedwidth": "test_wave21_sources",
    "sources.fixedwidth.write_fixedwidth": "test_wave21_sources",
    "sources.fixedwidth.fixedwidth_schema_projection": "test_wave21_sources",
    "sources.binary.ingest_media_dir": "test_binary_maintenance",
    "sources.binary.media_dir_stats": "test_binary_maintenance",
    "sources.maintenance.compact_parquet": "test_binary_maintenance",
    "sources.maintenance.parquet_file_count": "test_binary_maintenance",
    "streaming.joins.interval_join": "test_streaming_joins",
    "operators.multimodal.decode_features_arrow": "test_multimodal_arrow",
    "operators.multimodal.sample_pixels_arrow": "test_multimodal_arrow",
    "sources.tables.write_bucketed_spill_aware": "test_bucketed_spill_aware",
    "sources.tables.write_bucketed": "test_scale_paths",
    "sources.tables.write_partitioned": "test_scale_paths",
    "operators.spatial.spatial_join_polygon": "test_geometry",
    "operators.geometry.point_in_polygon": "test_geometry",
    "operators.sampling.mixture_plan": "test_chunking_sampling",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add((n.asname or n.name).split(".")[-1])
            out.add(n.name.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _package():
    """(definitions: qualified name -> node, module-level root names)."""
    defs, roots = {}, set()
    for path in sorted(PKG.rglob("*.py")):
        if "vendor" in path.parts:
            continue
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{st.name}"] = st
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                if path.name == "__init__.py":  # the public surface
                    roots |= _names(st)
            else:
                roots |= _names(st)
    return defs, roots


def _closure(defs, roots: set[str]) -> set[str]:
    by_name: dict[str, list[str]] = {}
    for q in defs:
        by_name.setdefault(q.rsplit(".", 1)[1], []).append(q)
    reached: set[str] = set()
    todo = [q for n in roots for q in by_name.get(n, ())]
    while todo:
        q = todo.pop()
        if q in reached:
            continue
        reached.add(q)
        todo += [r for n in _names(defs[q]) for r in by_name.get(n, ())]
    return reached


def _entry_roots() -> set[str]:
    roots = set()
    for pattern in ENTRY_GLOBS:
        for path in sorted(REPO.glob(pattern)):
            roots |= _names(ast.parse(path.read_text()))
    return roots


def test_every_definition_is_reached_or_listed():
    defs, pkg_roots = _package()
    listed = {q.rsplit(".", 1)[1] for q in {**KEEP, **DEFERRED}}
    reached = _closure(defs, _entry_roots() | pkg_roots | listed)
    dead = sorted(set(defs) - reached)
    assert not dead, (
        "definitions nothing reaches: delete them, or list them in KEEP "
        f"with a reason: {dead}"
    )


def test_listed_names_exist_and_are_otherwise_unreached():
    """A KEEP/DEFERRED entry whose definition is gone, or that the
    entry points reach anyway, is stale and must be removed."""
    defs, pkg_roots = _package()
    assert not set(KEEP) & set(DEFERRED)
    missing = sorted(q for q in {**KEEP, **DEFERRED} if q not in defs)
    assert not missing, f"listed definitions that no longer exist: {missing}"
    reached = _closure(defs, _entry_roots() | pkg_roots)
    redundant = sorted(q for q in {**KEEP, **DEFERRED} if q in reached)
    assert not redundant, f"listed definitions already reached: {redundant}"
