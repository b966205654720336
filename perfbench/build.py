"""Build what every run of a checkout shares, once:

* the fixture tables (``fixtures.py``);
* the JVM class archive ``harness.CLASS_ARCHIVE``: one session makes
  every op of both workloads with ``-XX:ArchiveClassesAtExit``, so the
  archive holds the classes a run loads;
* the initial ``lakehouse_rw`` table (``lakehouse.build_table``), kept
  per product version.

    python3 perfbench/build.py

``run.py`` calls it when any of these is missing, so the first run in a
checkout takes a few minutes longer.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import lakehouse  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    sf = harness.ensure_fixtures()
    dump = not os.path.isfile(harness.CLASS_ARCHIVE)
    scratch = harness.fresh_run_dir("build")
    harness.pin_environment(scratch, None, dump_classes=dump)
    from assignment4_spark import registry

    registry.load_all()
    harness.redirect_artifacts(scratch)
    spark, _ = harness.start_session()
    try:
        harness.warm_up(spark, sf)
        table_run_dir = os.path.join(harness.WORK_DIR, "lakehouse_rw")
        if os.path.isdir(lakehouse.pristine_dir()):
            lakehouse.restore_table(table_run_dir)
        else:
            lakehouse.build_table(spark, sf, table_run_dir)
        if dump:
            # load the classes of every op a run makes: an archive of the
            # warm-up's classes alone left commits ~30% slower
            tracer = run.Tracer(spark, False)
            base = lakehouse.load_base(sf)
            lh = lakehouse.LakehouseRW(spark, base, table_run_dir)
            run.run_lakehouse(spark, lh, lakehouse.make_log(0, base), tracer, [], [], {})
            ops: list[dict] = []
            for name in workloads.FACES:
                run.run_face(spark, sf, name, len(ops), tracer, ops)
            run.check_faces(spark, sf, workloads.FACES[:1], [])
    finally:
        harness.stop_session(spark)
    shutil.rmtree(scratch, ignore_errors=True)
    if dump and not os.path.isfile(harness.CLASS_ARCHIVE):
        sys.exit("build: the JVM wrote no class archive")


if __name__ == "__main__":
    main()
