import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules import each other by plain name, as run.py runs them
sys.path.insert(0, os.path.dirname(HERE))
# pvt_spark, for the oracle's projection helpers
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
