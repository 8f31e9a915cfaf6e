"""Every top-level definition in the package is reached from a program
entry point, or is listed in ``KEEP`` with a reason.  Two source guards
ride along: the package reads no environment variable, and every ``.py``
in the repository compiles without an invalid-escape warning.

Roots are all non-test ``.py`` files outside the package (``jobs/``,
``tools/``, ``extractbench/``, ``bench*.py``, ``__spark_entry__.py``) and
the package's own top-level statements that define nothing by name
(``if __name__ == "__main__":`` blocks, module-level calls).  A reference
is an ``ast.Name`` id or an ``ast.Attribute`` attr, so imports, strings
and comments are not references.  A package definition (def, class or
assignment) is reached when a root or a reached definition references its
name; its own body counts only once it is reached, iterated to a
fixpoint.  Matching is by name alone, so two same-named definitions in
different modules are reached together; the check can miss dead code but
never flags live code that is referenced by name.  No Spark needed.
"""

from __future__ import annotations

import ast
import os
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "readability_php_spark"
ROOT_DIRS = ("jobs", "tools", "extractbench")

#: library API with tests but no in-repo caller, kept on purpose
KEEP = {
    "pack_stats": "packing-efficiency report of pack_sequences; its test checks the packer's fill",
    "synthetic_media_df": "seeded media table behind the resize/phash/audio Spark tests",
    "audio_fingerprint": "single-clip fingerprint API; its tests pin the fingerprint law",
    "encode_progressive_jpeg_with_recon": "progressive-JPEG fixture writer with a reconstruction oracle for the decoder tests",
    "encode_avi_mjpeg": "AVI fixture writer for avi_video_metadata, which extract_media_features reaches",
    "encode_webm_stub": "WebM fixture writer for webm_video_metadata, which extract_media_features reaches",
    "encode_mp4_stub": "MP4 fixture writer for mp4_video_metadata, which extract_media_features reaches",
    "composite_render": "the paper's S6 __toString rendering of a ParseResult",
    "vacuum_snapshots": "snapshot-log retention API; tested, run by operators by hand",
    "sessionize": "batch twin of the streaming sessionizer; tested against it",
    "hash_sample": "deterministic hash sampling API; tested",
    "bloom_merge": "merge of two Bloom filters; tested equal to a union build",
    "read_page_stream": "streaming/ingest.py: the streaming extraction surface",
    "streaming_extract": "streaming/ingest.py: the streaming extraction surface",
    "streaming_quality_rollup": "streaming/ingest.py: the streaming extraction surface",
    "run_stream_to_parquet": "streaming/ingest.py: the streaming extraction surface",
    "streaming_url_dedup": "streaming/ingest.py: the streaming extraction surface",
    "fixture_corpus_rows": "reads the reference golden pages into rows; used by the golden-page tests",
}


def _source_files():
    for name in sorted(os.listdir(REPO)):
        if name.endswith(".py") and (name.startswith("bench") or name == "__spark_entry__.py"):
            yield os.path.join(REPO, name), False
    for top in ROOT_DIRS + (PACKAGE,):
        for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                if fn.endswith(".py") and not fn.startswith("test_"):
                    yield os.path.join(dirpath, fn), top == PACKAGE


def _refs(node) -> set:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined(stmt) -> list:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t]
        names += [e.id for e in elts if isinstance(e, ast.Name)]
    return names


def _scan():
    """(root refs, [(path, lineno, names, body refs)] for package defs)."""
    roots, defs = set(), []
    for path, in_package in _source_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = _defined(stmt) if in_package else []
            if names:
                defs.append((os.path.relpath(path, REPO), stmt.lineno, names, _refs(stmt)))
            else:
                roots |= _refs(stmt)
    return roots, defs


def _reached(roots: set, defs: list) -> set:
    reached = set(roots)
    pending = list(defs)
    while True:
        hit = [d for d in pending if reached.intersection(d[2])]
        if not hit:
            return reached
        for d in hit:
            reached |= d[3]
        pending = [d for d in pending if d not in hit]


def test_every_package_definition_is_reached_or_kept():
    roots, defs = _scan()
    reached = _reached(roots | set(KEEP), defs)
    dead = [
        f"{path}:{lineno} {name}"
        for path, lineno, names, _ in defs
        for name in names
        if name not in reached and not (name.startswith("__") and name.endswith("__"))
    ]
    assert not dead, (
        "top-level definitions no entry point reaches (delete them, or add "
        "them to KEEP with a reason):\n  " + "\n  ".join(dead)
    )


def test_keep_entries_are_defined_and_needed():
    roots, defs = _scan()
    defined = {name for _, _, names, _ in defs for name in names}
    assert not set(KEEP) - defined, f"KEEP names no definition: {sorted(set(KEEP) - defined)}"
    reached_anyway = sorted(set(KEEP) & _reached(roots, defs))
    assert not reached_anyway, f"KEEP entries reached without KEEP: {reached_anyway}"


def test_package_reads_no_environment():
    """Operators pick their path by input size against module constants;
    no environment variable can change what the package computes."""
    hits = []
    for path, in_package in _source_files():
        if not in_package:
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id == "os"
                and n.attr in ("environ", "getenv")
            ) or (
                isinstance(n, ast.ImportFrom)
                and n.module == "os"
                and {a.name for a in n.names} & {"environ", "getenv"}
            ):
                hits.append(f"{os.path.relpath(path, REPO)}:{n.lineno}")
    assert not hits, f"environment reads in the package: {hits}"


def test_sources_compile_without_escape_warnings():
    """An invalid escape such as ``'\\s'`` in a non-raw literal warns today
    and is slated to become an error; every ``.py`` must compile clean."""
    bad = []
    for dirpath, dirnames, filenames in os.walk(REPO):
        dirnames[:] = sorted(
            d for d in dirnames if not d.startswith(".") and d != "__pycache__"
        )
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            with warnings.catch_warnings():
                warnings.simplefilter("error", DeprecationWarning)
                warnings.simplefilter("error", SyntaxWarning)
                try:
                    compile(src, path, "exec")
                except SyntaxError as ex:
                    bad.append(f"{os.path.relpath(path, REPO)}:{ex.lineno} {ex.msg}")
    assert not bad, "sources that warn on compile:\n  " + "\n  ".join(bad)
