"""Run a job CLI unchanged and note when its SparkSession is ready.

    python perfbench/launch.py READY_FILE SCRIPT [ARGS...]

SCRIPT runs as ``__main__`` with ``ARGS`` as its argv, exactly as
``python SCRIPT ARGS`` would run it. The only addition: when
``ungoliant_spark.session.get_spark`` returns, the wall-clock time is
written to READY_FILE, so the benchmark can split the process's wall
time into set-up and work from outside the program.
"""

import os
import runpy
import sys
import time

ready_file, script = sys.argv[1], sys.argv[2]
sys.argv = [script, *sys.argv[3:]]
sys.path[0] = os.path.dirname(os.path.abspath(script))
sys.path.insert(1, os.path.dirname(sys.path[0]))

from ungoliant_spark import session  # noqa: E402

_get_spark = session.get_spark


def _timed_get_spark(*args, **kwargs):
    spark = _get_spark(*args, **kwargs)
    with open(ready_file, "w", encoding="utf-8") as f:
        f.write(repr(time.time()))
    return spark


session.get_spark = _timed_get_spark
runpy.run_path(script, run_name="__main__")
