"""Seeded benchmark inputs.

The image table is generated once per (seed, size, generator fingerprint)
and cached as parquet in the work directory, four part files per core as
``bench.py`` writes it.  Its rows are ``sources.synthetic``'s own
(``images_table``, the same ``make_image_row`` rows ``images_df``
distributes), made by one child process per core without a JVM, so no
set-up ever starts in a JVM the build has warmed.  AOIs and points are
small; each workload builds them driver-side from the same seed.  The
program sees only these generated tables.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import time

from perfbench import host

KEEP_CACHED = 16  # image tables kept in the work directory, newest first


def images_path(seed: int, n_images: int) -> str:
    from rasteret_spark.sources.synthetic import generator_fingerprint

    return os.path.join(
        host.WORK, "inputs", f"images-s{seed}-n{n_images}-{generator_fingerprint()}"
    )


def cached_images(seed: int, n_images: int) -> tuple[str | None, float]:
    """(path, build wall) of the cached table, or (None, 0.0) if absent."""
    path = images_path(seed, n_images)
    stamp = path + ".gen.json"
    if not (os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(stamp)):
        return None, 0.0
    os.utime(stamp)
    with open(stamp) as f:
        return path, float(json.load(f)["gen_s"])


def _write_part(job: tuple[str, int, int, int, int]) -> None:
    import pyarrow.parquet as pq

    from rasteret_spark.sources.synthetic import images_table

    path, seed, start, n, k = job
    pq.write_table(images_table(n, seed, start=start), os.path.join(path, f"part-{k:05d}.parquet"))


def ensure_images(seed: int, n_images: int, cores: int) -> tuple[str, float]:
    """Path of the cached image table, built if missing; returns the path
    and the wall of the build that made it (recorded beside the data)."""
    path, gen_s = cached_images(seed, n_images)
    if path is not None:
        return path, gen_s
    path = images_path(seed, n_images)
    host.rmtree(path)
    os.makedirs(path)
    parts = min(cores * 4, n_images)
    bounds = [n_images * k // parts for k in range(parts + 1)]
    jobs = [(path, seed, a, b - a, k) for k, (a, b) in enumerate(zip(bounds, bounds[1:]))]
    t0 = time.perf_counter()
    # fork: the driver holds no JVM and no threads yet
    pool = multiprocessing.get_context("fork").Pool(cores)
    try:
        pool.map(_write_part, jobs)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    gen_s = time.perf_counter() - t0
    open(os.path.join(path, "_SUCCESS"), "w").close()
    with open(path + ".gen.json", "w") as f:
        json.dump({"gen_s": gen_s}, f)
    _evict(keep=path)
    return path, gen_s


def _evict(keep: str) -> None:
    root = os.path.join(host.WORK, "inputs")
    stamps = sorted(
        (os.path.join(root, n) for n in os.listdir(root) if n.endswith(".gen.json")),
        key=os.path.getmtime, reverse=True,
    )
    for s in stamps[KEEP_CACHED:]:
        data = s[: -len(".gen.json")]
        if data != keep:
            host.rmtree(data)
            os.remove(s)


def read_columns(path: str, columns: list[str]):
    """Driver-side read of some image-table columns (correctness checks)."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pandas()
