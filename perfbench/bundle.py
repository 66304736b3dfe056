"""Seeded generator of TiDB-shaped metrics bundles for the advisor workloads.

A bundle is a gzipped tar holding one wide CSV per metric under
`<name>/reshape/`: a `timestamp` column (epoch seconds, 15 s step) plus one
column per instance. Metric names carry colons, as real exports do
(`tidb_p99_rt:total.csv`). The program only ever sees the tar path; the
planted truth this module returns stays with the benchmark.

What every bundle holds, so the advisor's output can be checked:
- the three reference objectives (`graft.Main.RefObjectives`), each on every
  instance, with uniform noise (bounded, so k-sigma outliers are planted
  ones only);
- level shifts on some objective series, each in its own 40-sample bucket,
  plus single-sample spikes in other buckets;
- for every shifted objective series, a driver candidate on the same
  instance that carries the same step shifted by `lag` samples, so the advisor
  should rank it first at that lag in that bucket (Correlate.nccLag pairs
  objective sample i with candidate sample i + lag);
- background candidates of uniform white noise, a few with a slow drift,
  so no background series correlates with a step by chance the way a
  random walk would inside a 40-sample window;
- about 8% flat series (whole metrics and single columns), which the
  variance gate must drop;
- empty and `NaN` cells in background series, and one CSV with no
  instance columns at all.
"""

import io
import random
import tarfile

OBJECTIVES = ["tidb_p99_rt:total", "tidb_p99_get_token_dur", "tidb_heap_size:by_instance"]
STEP = 15
BUCKET = 40  # samples per correlation bucket (graft.Main: bucket = 40 x step)
START = 1_700_000_400  # a multiple of 40 x 15 s, so buckets align with the data
INSTANCES = 4

_COMPONENTS = ["tidb", "tikv", "pd", "tiflash", "node"]
_KINDS = ["qps", "duration", "cpu", "memory", "io_util", "ops", "wait", "conn", "bytes", "errors"]
_SUFFIXES = [":by_instance", ":total", ":by_type", ""]


def _fmt(v):
    return "%.2f" % v


def generate(seed, n_metrics, n_samples, path):
    """Write a bundle to `path` and return its planted truth as a dict.

    `n_metrics` counts every CSV, objectives and drivers included.
    """
    rng = random.Random(seed)
    n_buckets = n_samples // BUCKET
    insts = ["inst-%d:20180" % i for i in range(INSTANCES)]
    ts = [START + STEP * i for i in range(n_samples)]

    # planted shifts: two instances per objective, each in a distinct inner
    # bucket; spikes go to other buckets of the same series
    inner = list(range(1, n_buckets - 1))
    rng.shuffle(inner)
    plants = []
    for k, obj in enumerate(OBJECTIVES):
        for j in rng.sample(range(INSTANCES), 2):
            b = inner.pop()
            plants.append({
                "objective": obj, "node": insts[j], "bucket_index": b,
                "bucket": START + b * BUCKET * STEP,
                "offset": rng.randint(14, 25), "lag": rng.choice([-3, -2, -1, 1, 2, 3]),
                "shift": rng.choice([-1, 1]) * rng.uniform(8.0, 12.0),
                "driver": "tikv_driver_%d_wait:by_instance" % k,
            })
    spikes = {}
    for p in plants:
        free = [b for b in inner if b not in spikes]
        if free:
            sb = rng.choice(free)
            spikes[(p["objective"], p["node"])] = (sb * BUCKET + rng.randint(5, 34),
                                                   rng.choice([-1, 1]) * 15.0)

    metrics = {}  # name -> list of columns (one list of cells per instance)

    def noise_series(level, scale, drift=0.0):
        return [level + scale * rng.uniform(-1.0, 1.0) + drift * i / n_samples
                for i in range(n_samples)]

    for obj in OBJECTIVES:
        cols = []
        for j in range(INSTANCES):
            level = rng.uniform(20.0, 80.0)
            x = noise_series(level, 1.0)
            for p in plants:
                if p["objective"] == obj and p["node"] == insts[j]:
                    t0 = p["bucket_index"] * BUCKET + p["offset"]
                    for i in range(t0, n_samples):
                        x[i] += p["shift"]
            sp = spikes.get((obj, insts[j]))
            if sp:
                x[sp[0]] += sp[1]
            cols.append([_fmt(v) for v in x])
        metrics[obj] = cols

    drivers = sorted({p["driver"] for p in plants})
    for d in drivers:
        cols = []
        for j in range(INSTANCES):
            x = noise_series(rng.uniform(5.0, 50.0), 1.0)
            for p in plants:
                if p["driver"] == d and p["node"] == insts[j]:
                    # candidate sample i + lag mirrors objective sample i
                    t0 = p["bucket_index"] * BUCKET + p["offset"] + p["lag"]
                    for i in range(t0, n_samples):
                        x[i] += 2.0 * p["shift"]
            cols.append([_fmt(v) for v in x])
        metrics[d] = cols

    flat = []
    empty_metric = "pd_scheduler_placeholder:by_type"
    names = set(metrics) | {empty_metric}
    n_background = n_metrics - len(metrics) - 1
    n_flat_metrics = max(1, round(0.05 * n_background))
    while len(names) < n_metrics:
        name = "%s_%s_%d%s" % (rng.choice(_COMPONENTS), rng.choice(_KINDS),
                               rng.randrange(1000), rng.choice(_SUFFIXES))
        if name in names:
            continue
        names.add(name)
        cols = []
        whole_flat = n_flat_metrics > 0
        if whole_flat:
            n_flat_metrics -= 1
        for j in range(INSTANCES):
            if whole_flat or rng.random() < 0.03:
                flat.append((name, insts[j]))
                c = [_fmt(rng.choice([0.0, 1.0, 100.0]))] * n_samples
            else:
                drift = rng.choice([0.0, 0.0, 0.0, rng.uniform(-3.0, 3.0)])
                c = [_fmt(v) for v in noise_series(rng.uniform(0.0, 100.0),
                                                   rng.uniform(0.5, 5.0), drift)]
                for i in rng.sample(range(n_samples), n_samples // 100):
                    c[i] = rng.choice(["", "NaN"])
            cols.append(c)
        metrics[name] = cols

    root = "bundle-%d/reshape/" % seed
    with tarfile.open(path, "w:gz", compresslevel=1) as tar:
        def add(name, text):
            data = text.encode("ascii")
            info = tarfile.TarInfo(root + name + ".csv")
            info.size = len(data)
            info.mtime = START
            tar.addfile(info, io.BytesIO(data))

        add(empty_metric, "timestamp\n" + "".join("%d\n" % t for t in ts))
        for name in sorted(metrics):
            cols = metrics[name]
            lines = ["timestamp," + ",".join(insts)]
            for i, t in enumerate(ts):
                lines.append("%d,%s" % (t, ",".join(c[i] for c in cols)))
            add(name, "\n".join(lines) + "\n")

    return {"plants": plants, "flat": flat}
