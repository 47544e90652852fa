"""scripts/scaling_bench.py records a failed leg by the exception line of its
worker's stderr, so a crash can be triaged from BENCH/scaling_runs.jsonl."""

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "scaling_bench",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "scaling_bench.py"),
)
sb = importlib.util.module_from_spec(spec)
spec.loader.exec_module(sb)

PY4J_STDERR = """\
26/08/22 04:29:11 WARN TaskSetManager: Lost task 3.0 in stage 4.0: java.io.IOException
Traceback (most recent call last):
  File "<string>", line 64, in <module>
py4j.protocol.Py4JJavaError: An error occurred while calling o57.parquet.
: org.apache.spark.SparkException: Job aborted due to stage failure: Task 3 failed 1 times
\tat org.apache.spark.scheduler.DAGScheduler.failJobAndIndependentStages(DAGScheduler.scala:2898)
Caused by: java.io.IOException: No space left on device
\tat java.base/java.io.FileOutputStream.writeBytes(Native Method)
"""


def test_exception_line_names_the_java_exception_under_py4j():
    assert sb.exception_line(PY4J_STDERR) == (
        "org.apache.spark.SparkException: Job aborted due to stage failure: Task 3 failed 1 times"
    )


def test_exception_line_python_traceback_and_fallbacks():
    assert sb.exception_line('Traceback:\n  File "x"\nValueError: bad page\n') == "ValueError: bad page"
    assert sb.exception_line("Killed\n") == "Killed"
    assert sb.exception_line("") == ""
