"""The extraction kernel with no Spark: a control and a sub-phase split.

A process pool reads the seeded corpus with pyarrow and runs the
program's kernel functions directly:

- the control times ``extract_one`` alone, at 1 process and at
  ``nproc`` processes; its docs/s is the ceiling for the Spark job's;
- the split times each phase ``extract_one`` is made of
  (``htmlseg.decode_html``, ``page_metadata``, ``extract_lines``,
  ``rules.route_template``, ``pull_fields``) on the same documents,
  then ``extract_udf.extract_record_batch`` on Arrow batches of the
  size the session configures, so the batch wrapper's own cost is
  ``batch_s`` minus the summed ``extract_one`` time.

Only English documents are used, as the job's routing filter does.
"""

from __future__ import annotations

import multiprocessing as mp
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.trace import Tracer

ROW_GROUPS_PER_TASK = 2
#: rows per Arrow batch: session.get_spark's spark.sql.execution.arrow.maxRecordsPerBatch
BATCH_ROWS = 1024
ERROR_CLASSES = ("empty", "oversize", "decode-error", "no-content", "internal")
PHASES = ("decode", "page_metadata", "extract_lines", "route_template", "pull_fields")

_worker: dict = {}


def _init(path: str) -> None:
    _worker["path"] = path


def _load(groups: list[int]) -> pa.Table:
    t = pq.ParquetFile(_worker["path"]).read_row_groups(
        groups, columns=["url", "warc_ts", "html", "lang"]
    )
    t = t.filter(pc.equal(t["lang"], "en"))
    return t.select(["url", "warc_ts", "html"])


def _warm(_: int) -> None:
    import oct_report_ocr_spark.jobs.extract_udf  # noqa: F401 — import cost stays out of the timings

    time.sleep(0.05)  # hold the worker so each pool process gets one warm-up task


def _control(groups: list[int]) -> int:
    from oct_report_ocr_spark.extract import extract_one

    t = _load(groups)
    for url, html in zip(t["url"].to_pylist(), t["html"].to_pylist()):
        extract_one(html, url)
    return t.num_rows


def _split(groups: list[int]) -> dict:
    from oct_report_ocr_spark.extract import core, extract_one, htmlseg, rules
    from oct_report_ocr_spark.jobs.extract_udf import extract_record_batch

    t = _load(groups)
    out = dict.fromkeys(PHASES, 0.0)
    out.update(extract_one=0.0, batch=0.0, batches=0, fields=0, ok=0, docs=t.num_rows)
    out.update({f"q.{e}": 0 for e in ERROR_CLASSES})
    clock = time.perf_counter
    for url, html in zip(t["url"].to_pylist(), t["html"].to_pylist()):
        t0 = clock()
        r = extract_one(html, url)
        out["extract_one"] += clock() - t0
        if r.error is None:
            out["ok"] += 1
        else:
            out["q." + r.error.split(":")[0]] += 1
        # the phases again, in extract_one's order and with its early exits
        if not html or len(html) > core.MAX_HTML_BYTES or r.error and r.error.startswith("internal"):
            continue
        t0 = clock()
        try:
            text = htmlseg.decode_html(bytes(html))
        except (ValueError, UnicodeDecodeError):
            out["decode"] += clock() - t0
            continue
        t1 = clock()
        htmlseg.page_metadata(text)
        t2 = clock()
        lines, _ = htmlseg.extract_lines(text)
        t3 = clock()
        out["decode"] += t1 - t0
        out["page_metadata"] += t2 - t1
        out["extract_lines"] += t3 - t2
        if not lines:
            continue
        t0 = clock()
        template = rules.route_template(lines)
        t1 = clock()
        fields = rules.pull_fields(lines, template)
        out["route_template"] += t1 - t0
        out["pull_fields"] += clock() - t1
        out["fields"] += len(fields)
    for batch in t.to_batches(max_chunksize=BATCH_ROWS):
        t0 = clock()
        extract_record_batch(batch)
        out["batch"] += clock() - t0
        out["batches"] += 1
    return out


def _tasks(path: str) -> list[list[int]]:
    n = pq.ParquetFile(path).metadata.num_row_groups
    return [list(range(i, min(i + ROW_GROUPS_PER_TASK, n))) for i in range(0, n, ROW_GROUPS_PER_TASK)]


def _timed_control(path: str, procs: int, tasks: list[list[int]]) -> tuple[int, float]:
    ctx = mp.get_context("spawn")
    with ctx.Pool(procs, initializer=_init, initargs=(path,)) as pool:
        pool.map(_warm, range(procs), chunksize=1)
        t0 = time.perf_counter()
        n = sum(pool.imap_unordered(_control, tasks))
        return n, time.perf_counter() - t0


def measure(path: str, procs: int, tracer: Tracer) -> dict[str, float]:
    """Control and split over ``path``'s English docs.

    Returns the ``control.*``, ``htmlseg.*``, ``rules.*``, ``core.*``
    and ``extract_udf.*`` per-layer metrics, plus ``control.np_s``, the
    control's wall time at ``procs`` processes."""
    tasks = _tasks(path)
    with tracer.span("kernel.control_np"):
        n_np, wall_np = _timed_control(path, procs, tasks)
    # 1 process over every 4th task: a rate, so a quarter of the docs will do
    with tracer.span("kernel.control_1p"):
        n_1p, wall_1p = _timed_control(path, 1, tasks[::4])
    with tracer.span("kernel.split"):
        ctx = mp.get_context("spawn")
        with ctx.Pool(procs, initializer=_init, initargs=(path,)) as pool:
            parts = pool.map(_split, tasks, chunksize=1)
    tot = {k: sum(p[k] for p in parts) for k in parts[0]}
    phases = sum(tot[p] for p in PHASES)
    m = {
        "control.docs_per_s_1p": n_1p / wall_1p if n_1p else 0.0,
        "control.docs_per_s_np": n_np / wall_np if n_np else 0.0,
        "control.np_s": wall_np if n_np else 0.0,
        "htmlseg.decode_s": tot["decode"],
        "htmlseg.page_metadata_s": tot["page_metadata"],
        "htmlseg.extract_lines_s": tot["extract_lines"],
        "rules.route_template_s": tot["route_template"],
        "rules.pull_fields_s": tot["pull_fields"],
        "rules.fields_pulled": tot["fields"],
        "core.extract_one_s": tot["extract_one"],
        "core.residual_s": tot["extract_one"] - phases,
        "core.ok": tot["ok"],
        "extract_udf.batch_s": tot["batch"],
        "extract_udf.arrow_build_s": tot["batch"] - tot["extract_one"],
        "extract_udf.batches": tot["batches"],
    }
    m.update({f"core.quarantine.{e}": tot[f"q.{e}"] for e in ERROR_CLASSES})
    return m
