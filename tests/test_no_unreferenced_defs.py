"""Guard against package code that nothing in the system calls.

Every top-level def or class in ``geospatial_spark/`` must be named —
as a Name, an Attribute, an import alias or an identifier string (e.g. a
name in geobench's ``INSTRUMENT`` lists) — in some non-test file other
than its own body: the package, ``__spark_entry__.py``, ``run_*.py``,
``bench.py``, ``scaling_bench.py`` or ``geobench/``.  The only exceptions
are the two lists below; each entry cites where it is documented or which
test compares kept code against it.  Pure ``ast``, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "geospatial_spark"

#: public API with no in-system caller, documented for users
PUBLIC_API = {
    "functions.udfs.trans_proj_udf": "README 'Scale-path APIs in brief': general CRS reprojection",
    "functions.sqlreg.register_sql_functions": "README 'Scale-path APIs in brief': SQL-callable surface",
    "sources.geojson.read_geojson": "README 'Scale-path APIs in brief': GeoJSON in/out",
    "sources.geojson.write_geojson": "README 'Scale-path APIs in brief': GeoJSON in/out",
    "geo.geom.split_ring_antimeridian": "README 'Cell systems: geohash + S2': antimeridian-crossing rings",
    "icelite.catalog.committed_partitions": "icelite.catalog module docstring: the catalog's narrow interface",
    "geo.polyfill.s2_polyfill": "README intro: polygon fill (S2 polycell, a north-star capability)",
}

#: references that tests compare kept code against
TEST_REFERENCES = {
    "geo.tiles.lonlat_to_tile": "tests/test_geo_kernels.py::test_tile_math_golden",
    "geo.geom.parse_wkt": "tests/test_geo_kernels.py::test_parse_wkt_geometry_types",
    "geo.s2.from_token": "tests/test_geo_kernels.py::test_s2_token_roundtrip",
    "geo.s2.range_min_max": "tests/test_geo_kernels.py::test_s2_hilbert_locality",
    "geo.compact.uncompact_geohash": "tests/test_compact_ops.py::test_uncompact_geohash_df_roundtrip",
    "geo.geom.overlay_metrics": "tests/test_overlay_general.py::test_boolean_geometry_invariants_on_driver_fixtures",
    "geo.geom.overlay_boolean_rings": "tests/test_overlay_general.py::test_overlay_full_matches_legacy_single_ring_path",
    "geo.geom.overlay_intersection_rings": "tests/test_overlay_general.py::test_rings_canonical_wkt_deterministic",
    "geo.geom.overlay_difference_rings": "tests/test_overlay_general.py::test_difference_union_disjoint_and_self",
    "geo.geom.overlay_union_rings": "tests/test_overlay_general.py::test_difference_union_disjoint_and_self",
    "geo.geom.utm_zone_epsg": "tests/test_geo_kernels.py::test_utm_zone_golden",
    "geo.geohash.decode": "tests/test_geo_kernels.py::test_geohash_roundtrip_grid",
    "geo.polyline.decode": "tests/test_geo_kernels.py::test_polyline_golden",
    "operators.textstats.repetition_stats_sql": "tests/test_repetition_stats.py::test_repetition_stats_matches_duckdb",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _caller_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "scaling_bench.py"]
    files += sorted(ROOT.glob("run_*.py"))
    files += sorted(p for p in (ROOT / "geobench").rglob("*.py") if "tests" not in p.parts)
    return files


def _unreferenced() -> set[str]:
    trees = {p: ast.parse(p.read_text()) for p in _caller_files()}
    elsewhere: dict[Path, set[str]] = {p: _names(t) for p, t in trees.items()}
    found = set()
    for path, tree in trees.items():
        if PKG not in path.parents:
            continue
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for d in tree.body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own = set().union(*(_names(n) for n in tree.body if n is not d))
            if d.name in own or any(d.name in s for p, s in elsewhere.items() if p != path):
                continue
            found.add(f"{module}.{d.name}")
    return found


def test_every_package_def_has_a_non_test_caller():
    unreferenced = _unreferenced()
    listed = set(PUBLIC_API) | set(TEST_REFERENCES)
    new = sorted(unreferenced - listed)
    assert not new, (
        f"package defs no non-test file names: {new} — delete them, or list "
        "them in PUBLIC_API / TEST_REFERENCES with a citation"
    )
    stale = sorted(listed - unreferenced)
    assert not stale, f"listed defs that are gone or now have a caller: {stale}"
