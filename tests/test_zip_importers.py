"""The extraction stage's per-worker importer drop, without Spark: only
zip importers of archives outside the SparkFiles root are forgotten, and
modules from a forgotten archive still import afterwards."""

import os
import subprocess
import sys
import zipfile
import zipimport

from webtableextractionsystem_spark.operators.extraction import (
    drop_static_zip_importers,
)


def _zip(path, modules):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    return path


def _zip_importer_archives():
    return {imp.archive for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)}


def test_drops_only_importers_outside_the_root(tmp_path):
    root = str(tmp_path / "sparkfiles")
    shipped = _zip(os.path.join(root, "pkg.zip"), ["zi_shipped_a"])
    static = _zip(str(tmp_path / "lib" / "static.zip"),
                  ["zi_static_a", "zi_static_b"])
    names = ["zi_shipped_a", "zi_static_a", "zi_static_b"]
    sys.path[:0] = [shipped, static]
    try:
        import zi_shipped_a
        import zi_static_a

        assert {shipped, static} <= _zip_importer_archives()
        drop_static_zip_importers(root)
        archives = _zip_importer_archives()
        assert shipped in archives
        assert static not in archives

        import zi_static_b

        assert (zi_shipped_a.NAME, zi_static_a.NAME, zi_static_b.NAME) == tuple(names)
    finally:
        for p in (shipped, static):
            sys.path.remove(p)
            sys.path_importer_cache.pop(p, None)
        for name in names:
            sys.modules.pop(name, None)


def test_stage_modules_do_not_import_pandas():
    code = (
        "import sys\n"
        "from webtableextractionsystem_spark.operators import extraction\n"
        "assert 'pandas' not in sys.modules\n"
        "html = '<table><tr><th>a</th><th>b</th></tr><tr><td>1</td><td>2</td></tr></table>'\n"
        "span = {'kind': 'html', 'text': html, 'media_ref': '', 'offset': 0}\n"
        "extraction.extract_batch(['d'], [[span]])\n"
        "assert 'pandas' not in sys.modules\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)


def test_media_and_datagen_modules_do_not_import_pandas():
    code = (
        "import sys\n"
        "from webtableextractionsystem_spark.operators import multimodal\n"
        "from webtableextractionsystem_spark import datagen\n"
        "assert 'pandas' not in sys.modules, 'import'\n"
        "datagen.gen_document(211)\n"
        "assert 'pandas' not in sys.modules, 'gen_document'\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)
