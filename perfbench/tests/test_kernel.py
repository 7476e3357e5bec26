import os
import signal
import subprocess
import sys

from perfbench import kernel
from perfbench.corpus import write_corpus
from perfbench.procmem import PeakRss, descendants, end_all
from perfbench.trace import Tracer


def test_split_counts_match_generator_and_repeat(tmp_path):
    path = str(tmp_path / "docs.parquet")
    facts = write_corpus(path, 1500, seed=3, procs=2)
    a = kernel.measure(path, 2, Tracer(None))
    b = kernel.measure(path, 2, Tracer(None))
    quarantined = sum(a[f"core.quarantine.{e}"] for e in kernel.ERROR_CLASSES)
    assert a["core.ok"] + quarantined == facts.n_en
    assert quarantined == facts.n_en_dirty
    counts = [k for k in a if k.startswith(("core.ok", "core.quarantine", "rules.fields_pulled", "extract_udf.batches"))]
    assert {k: a[k] for k in counts} == {k: b[k] for k in counts}
    assert a["core.extract_one_s"] > 0 and a["control.docs_per_s_np"] > 0


def test_peak_rss_sums_child_processes():
    child = subprocess.Popen([sys.executable, "-c", "b = bytearray(64 << 20); import time; time.sleep(2)"])
    try:
        with PeakRss() as mem:
            import time

            time.sleep(1.0)
    finally:
        child.kill()
        child.wait()
    assert mem.peak_bytes >= 64 << 20


def test_end_all_waits_for_and_kills_descendants():
    quick = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.3)"])
    stuck = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    assert {quick.pid, stuck.pid} <= set(descendants(os.getpid()))
    end_all([quick.pid, stuck.pid], timeout=1.0)
    assert quick.wait(timeout=5) == 0
    assert stuck.wait(timeout=5) == -signal.SIGKILL
