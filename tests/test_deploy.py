"""deploy.py's import-cache helper, without Spark."""

import os
import sys
import zipfile
import zipimport

from readability_php_spark.deploy import drop_archive_dir_finders


def test_drop_archive_dir_finders_keeps_path_entries(tmp_path):
    """Finders for package directories inside a zip on sys.path are
    dropped; the sys.path entry's own finder stays, and a later import
    from the same package directory still works."""
    archive = str(tmp_path / "pkgs.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zdeploypkg/__init__.py", "")
        zf.writestr("zdeploypkg/sub/__init__.py", "")
        zf.writestr("zdeploypkg/sub/mod.py", "VALUE = 1\n")
        zf.writestr("zdeploypkg/sub/other.py", "VALUE = 2\n")
    pkg_dir = os.path.join(archive, "zdeploypkg")
    sub_dir = os.path.join(pkg_dir, "sub")
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    sys.path.insert(0, archive)
    try:
        import zdeploypkg.sub.mod

        assert zdeploypkg.sub.mod.VALUE == 1
        cache = sys.path_importer_cache
        for key in (archive, pkg_dir, sub_dir):
            assert isinstance(cache.get(key), zipimport.zipimporter), key

        drop_archive_dir_finders()

        assert pkg_dir not in cache and sub_dir not in cache
        assert isinstance(cache.get(archive), zipimport.zipimporter)

        import zdeploypkg.sub.other

        assert zdeploypkg.sub.other.VALUE == 2
        # the rebuilt finder shares the archive's cached directory: the
        # archive was not read again
        assert cache[sub_dir]._files is zipimport._zip_directory_cache[archive]
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        for key in (archive, pkg_dir, sub_dir):
            sys.path_importer_cache.pop(key, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_package_zip_path_follows_source_edits(tmp_path, monkeypatch):
    """The zip is named by its sources: editing a shipped file yields a new
    path whose zip holds the edit, and no temp file is left behind."""
    import shutil
    import tempfile

    import readability_php_spark
    from readability_php_spark.deploy import package_zip_path

    src = os.path.dirname(os.path.abspath(readability_php_spark.__file__))
    pkg = tmp_path / "pkg" / "readability_php_spark"
    shutil.copytree(src, pkg, ignore=shutil.ignore_patterns("__pycache__"))
    out = tmp_path / "out"
    out.mkdir()
    monkeypatch.setattr(readability_php_spark, "__file__", str(pkg / "__init__.py"))
    monkeypatch.setattr(tempfile, "tempdir", str(out))

    first = package_zip_path()
    assert os.path.dirname(first) == str(out)
    assert package_zip_path() == first

    edited = pkg / "operators" / "urls.py"
    edited.write_text(edited.read_text() + "\nEDITED_MARKER = 1\n")
    second = package_zip_path()
    assert second != first
    with zipfile.ZipFile(second) as zf:
        assert b"EDITED_MARKER = 1" in zf.read("readability_php_spark/operators/urls.py")
    with zipfile.ZipFile(first) as zf:
        assert b"EDITED_MARKER" not in zf.read("readability_php_spark/operators/urls.py")
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(p) for p in (first, second)
    )
