"""Worker hygiene (``udfs.drop_dead_importers``): no timing, only the
importer state that makes pyspark's per-task ``invalidate_caches()``
re-read zip directories."""

from __future__ import annotations

import sys
import uuid
import zipfile
import zipimport

import pandas as pd

from ocr_spark import job, udfs
from ocr_spark.operators import multimodal


def _dead_importers() -> list[str]:
    """``.jar`` entries on ``sys.path`` plus the ``.jar`` and
    zip-subdirectory zipimporters in ``sys.path_importer_cache``."""
    return [p for p in sys.path if str(p).endswith(".jar")] + [
        k for k, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
        and (f.archive.endswith(".jar") or f.prefix)
    ]


def test_drop_dead_importers_keeps_imports_working(tmp_path):
    """In-process: a subdirectory importer is dropped, and an import
    that needs it afterwards still resolves."""
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("hyg_pkg/__init__.py", "")
        zf.writestr("hyg_pkg/sub/__init__.py", "")
        zf.writestr("hyg_pkg/sub/a.py", "X = 1\n")
        zf.writestr("hyg_pkg/sub/b.py", "Y = 2\n")
    sys.path.append(str(archive))
    try:
        import hyg_pkg.sub.a  # noqa: F401

        assert any(str(archive) in k for k in _dead_importers())
        udfs.drop_dead_importers()
        assert not any(str(archive) in k for k in _dead_importers())
        from hyg_pkg.sub import b

        assert b.Y == 2
    finally:
        sys.path.remove(str(archive))
        for name in [m for m in sys.modules if m.startswith("hyg_pkg")]:
            del sys.modules[name]


def test_reused_worker_starts_task_without_dead_importers(spark):
    """More probe tasks than task slots, so some Python worker runs
    two. A probe records on entry whether its worker ran a probe
    before and which dead importers it holds, then calls the hygiene
    function: every repeat probe must find none."""
    job.ensure_package_shipped(spark)
    flag = f"_hygiene_probe_{uuid.uuid4().hex}"

    def probe(_rows):
        import os
        import sys as wsys
        import zipimport as wzip

        from ocr_spark.udfs import drop_dead_importers

        repeat = getattr(wsys, flag, False)
        setattr(wsys, flag, True)
        dead = [p for p in wsys.path if str(p).endswith(".jar")] + [
            k for k, f in wsys.path_importer_cache.items()
            if isinstance(f, wzip.zipimporter)
            and (f.archive.endswith(".jar") or f.prefix)
        ]
        drop_dead_importers()
        yield os.getpid(), repeat, dead

    n = 4 * spark.sparkContext.defaultParallelism
    rows = spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect()
    repeats = [(pid, dead) for pid, repeat, dead in rows if repeat]
    assert repeats, "no Python worker ran two probe tasks"
    assert [d for _, d in repeats if d] == []


def test_every_python_entry_point_calls_hygiene(spark, monkeypatch):
    """Both Python stage bodies call the hygiene function first: the
    extraction runner, and the ``udfs.map_batches`` body that runs
    every other stage (``extract_transcripts``, the fields stage, the
    three multimodal operators)."""
    calls: list[str] = []
    for mod in (job, udfs):
        monkeypatch.setattr(
            mod, "drop_dead_importers", lambda m=mod.__name__: calls.append(m)
        )

    class _Acc:
        def add(self, rows):
            pass

    turns = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": ["<p>hello</p>"]})
    fields = turns.rename(columns={"text": "extracted_text"})
    media = pd.DataFrame({
        "doc_id": [1], "media_type": ["image/png"], "payload": [b"abc"],
        "n_bytes": [3],
    })
    list(job._make_runner(_Acc(), 0)(iter([turns])))

    bodies = []

    class _Frame:
        sparkSession = spark

        def select(self, *_cols):
            return self

        def filter(self, _cond):
            return self

        def mapInPandas(self, fn, _schema):
            bodies.append(fn)

    job.extract_transcripts(_Frame())
    udfs.map_batches(_Frame(), udfs.fields_batch, None)
    for op in (multimodal.extract_media_features, multimodal.resize_images,
               multimodal.sample_frames):
        op(_Frame())
    for body, batch in zip(bodies, [turns, fields, media, media, media], strict=True):
        list(body(iter([batch])))
    assert calls == ["ocr_spark.job"] + ["ocr_spark.udfs"] * 5
