"""Measuring and checking scripts, runnable from any directory: the
repo root goes on ``PYTHONPATH`` before a session starts, so Spark's
Python workers can unpickle pandas UDFs from lol_data_pipeline_spark."""

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
