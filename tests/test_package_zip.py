"""The shipped package zip: a zip built from one tree is never reused
for another tree, whatever the file mtimes, and a SparkContext ships
it once."""

import importlib.util
import os
import shutil
import zipfile

import webtableextractionsystem_spark

PKG = os.path.dirname(os.path.abspath(webtableextractionsystem_spark.__file__))


def _session_of(tree):
    spec = importlib.util.spec_from_file_location(
        f"_session_{os.path.basename(tree)}",
        os.path.join(tree, "webtableextractionsystem_spark", "session.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_package_zip_rebuilds_for_a_tree_with_older_files(tmp_path):
    zip_path = str(tmp_path / "pkg.zip")
    for name, mtime in (("a", None), ("b", 1_000_000_000)):
        tree = str(tmp_path / name)
        pkg = os.path.join(tree, "webtableextractionsystem_spark")
        shutil.copytree(PKG, pkg,
                        ignore=shutil.ignore_patterns("__pycache__"))
        with open(os.path.join(pkg, "__init__.py"), "a") as f:
            f.write(f"# tree {name}\n")
        if mtime:  # the second tree's files all predate the first zip
            for dirpath, _, files in os.walk(pkg):
                for f in files:
                    os.utime(os.path.join(dirpath, f), (mtime, mtime))
        assert _session_of(tree).package_zip(zip_path) == zip_path
        with zipfile.ZipFile(zip_path) as zf:
            got = zf.read("webtableextractionsystem_spark/__init__.py")
        with open(os.path.join(pkg, "__init__.py"), "rb") as f:
            assert got == f.read()


def test_package_shipped_once_per_context(spark):
    """get_spark on the live session and __spark_entry__._bootstrap
    reuse the zip the context already ships instead of adding it
    again."""
    import __spark_entry__
    from webtableextractionsystem_spark.session import get_spark

    for _ in range(2):
        assert get_spark(app_name="tests", cores=4,
                         shuffle_partitions=8) is spark
    __spark_entry__._bootstrap(spark)
    shipped = [f for f in spark.sparkContext._python_includes
               if f.startswith("wtes_spark_pkg-")]
    assert len(shipped) == 1, shipped
