"""Layer probes of the traced run: the ``extract`` ladder and the kernels.

Ladder (Spark, ``local[cores]``, on a job's staged input; each rung is
the best of ``reps`` runs, and a layer is the difference of two rungs):

* scan: ``read.parquet(staging).select(url, html)`` into the noop sink;
* transport: + an identity ``mapInPandas`` (Arrow to and from Python);
* udf: ``extract()`` instead of the identity (kernels + assembly);
* sink: ``extract()`` into parquet instead of noop.

Kernels (this process, one thread): the public kernel entry points over
a fixed sample of the workload's payloads, timed per call.
"""

from __future__ import annotations

import shutil
import time

import pyarrow.parquet as pq

KERNEL_SAMPLE = 2000
KERNEL_OF = {"html": "html", "pdf": "pdf", "png": "raster", "jpeg": "raster"}


def _best(action, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        action()
        walls.append(time.perf_counter() - t)
    return min(walls)


def extract_ladder(spark, staged: str, scratch: str, reps: int = 2) -> dict:
    """``{metric: (seconds, "s")}`` for the four ladder layers."""
    from pbx_ds_ocr_server_spark.operators.extract import extract

    from perfbench.env import identity_batches

    def src():
        return spark.read.parquet(staged).select("url", "html")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def to_parquet():
        shutil.rmtree(scratch, ignore_errors=True)
        extract(src()).write.mode("overwrite").parquet(scratch)

    scan = _best(lambda: noop(src()), reps)
    ident = _best(
        lambda: noop(
            src().mapInPandas(identity_batches, "url string, html binary")
        ),
        reps,
    )
    udf = _best(lambda: noop(extract(src())), reps)
    sink = _best(to_parquet, reps)
    shutil.rmtree(scratch, ignore_errors=True)
    return {
        "extract.scan_s": (scan, "s"),
        "extract.transport_s": (ident - scan, "s"),
        "extract.udf_s": (udf - ident, "s"),
        "extract.sink_s": (sink - udf, "s"),
    }


def kernel_timings(input_dir: str, n: int = KERNEL_SAMPLE) -> dict:
    """``{metric: (value, unit)}``: µs per doc of each kernel over the
    first ``n`` non-empty payloads.

    ``kernels.pdf_share`` is PDF time over the summed time of all four
    kernels, ``kernels.total_s``, which is reported as its base."""
    from pbx_ds_ocr_server_spark.config import DEFAULT_CONFIG as cfg
    from pbx_ds_ocr_server_spark.kernels import (
        detect_content_type,
        extract_html,
        extract_pdf,
    )
    from pbx_ds_ocr_server_spark.kernels.raster_meta import (
        extract_raster_meta,
    )

    payloads = pq.read_table(input_dir, columns=["html"]).column("html")
    payloads = [p for p in payloads.to_pylist()[:n] if p]

    clock = time.perf_counter
    spent = {"sniff": 0.0, "html": 0.0, "pdf": 0.0, "raster": 0.0}
    docs = dict.fromkeys(spent, 0)
    for p in payloads:
        t = clock()
        ctype = detect_content_type(p)
        spent["sniff"] += clock() - t
        docs["sniff"] += 1
        kind = KERNEL_OF.get(ctype)
        if kind is None:
            continue
        t = clock()
        try:
            if kind == "pdf":
                extract_pdf(p, cfg)
            elif kind == "raster":
                extract_raster_meta(p, ctype, cfg)
            else:
                extract_html(p, cfg)
        except Exception:  # noqa: BLE001 — the job maps these to 'failed'
            pass
        spent[kind] += clock() - t
        docs[kind] += 1
    total = sum(spent.values())
    out = {
        f"kernels.{k}_us_per_doc": (
            spent[k] / docs[k] * 1e6 if docs[k] else 0.0, "us"
        )
        for k in spent
    }
    out["kernels.pdf_share"] = (spent["pdf"] / total if total else 0.0, "ratio")
    out["kernels.total_s"] = (total, "s")
    return out
