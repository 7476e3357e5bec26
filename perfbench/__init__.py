"""Benchmark of the flagship extraction job and the curation job.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
from the repository root; see ``perfbench/run.py``.
"""

import os

#: Spark runs at local[NPROC] and the no-Spark kernel control at NPROC
#: processes: every core of the host
NPROC = os.cpu_count() or 1
