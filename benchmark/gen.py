"""Tick generator: producer-shaped 8-field JSON ticks (the reference's
`datagen/stock.py` record), deterministic in the seed.

Two uses:
  * `backlog(...)` writes a fixed event-time range as files, for the
    replay workload and for the warm-up every set-up drains;
  * `python3 gen.py live <args>` is the live workload's open-loop
    producer: a single-threaded process, separate from the engine JVM,
    that adds one file per slot to the watched directory on a fixed
    schedule, whatever the engine is doing. Each tick's `utc` is its
    scheduled creation time; a small share is stamped earlier (out of
    order), always by less than the smallest watermark delay, so the
    expected output does not depend on timing.

Within one ticker no two ticks share a millisecond, so first/last price
(min_by/max_by over `utc`) has one right answer.
"""
import bisect
import datetime
import itertools
import json
import os
import random
import sys
import time

REFERENCE_TICKERS = ["AAPL", "AMZN", "MSFT", "TSLA"]


def tickers(n):
    """The reference's 4 symbols, or `n` synthetic 6-letter ones."""
    if n == len(REFERENCE_TICKERS):
        return list(REFERENCE_TICKERS)
    return ["TK%04d" % i for i in range(n)]


def zipf_weights(n, s):
    return [1.0 / (i + 1) ** s for i in range(n)]


def schedule(seed, n_tickers, skew, rate, seconds, ooo_share, ooo_max_ms):
    """Ticks as (creation_ms, utc_ms, ticker, price), sorted by creation.

    `rate` ticks per second, spread evenly; tickers drawn with Zipf(`skew`)
    weights (0 = uniform); `ooo_share` of ticks get utc = creation - d,
    d in [1, ooo_max_ms]. Times are relative to the schedule start.
    """
    rng = random.Random(seed)
    names = tickers(n_tickers)
    cum = list(itertools.accumulate(zipf_weights(n_tickers, skew)))

    def draw():
        return names[bisect.bisect_right(cum, rng.random() * cum[-1])]

    total = int(rate * seconds)
    used = set()
    out = []
    for i in range(total):
        created = int(i * 1000 / rate)
        t = draw()
        while (t, created) in used:
            t = draw()
        utc = created
        if rng.random() < ooo_share:
            d = rng.randint(1, ooo_max_ms)
            if (t, created - d) not in used and created - d >= 0:
                utc = created - d
        used.add((t, utc))
        price = rng.randint(0, 9999) / 100
        out.append((created, utc, t, price))
    return out


_days = {}


def fmt_utc(epoch_ms):
    """`yyyy-MM-dd HH:mm:ss.SSS` in UTC, the SQL timestamp standard."""
    day, ms = divmod(epoch_ms, 86400000)
    if day not in _days:
        _days[day] = datetime.datetime.fromtimestamp(
            day * 86400, datetime.timezone.utc).strftime("%Y-%m-%d")
    s, ms = divmod(ms, 1000)
    return "%s %02d:%02d:%02d.%03d" % (_days[day], s // 3600, s // 60 % 60, s % 60, ms)


def line(epoch_ms, ticker, price):
    return ('{"utc": "%s", "type": "get_live_price", "source": "datagen", '
            '"ticker": "%s", "name": "%s common stock", "sector": "technology", '
            '"industry": "software", "price": %r}' % (fmt_utc(epoch_ms), ticker, ticker, price))


def put_file(staging, target_dir, name, lines, mtime=None):
    """Write a whole file, then rename it into the watched directory."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(target_dir, name))


def backlog(out_dir, base_ms, ticks, file_ms):
    """Write `ticks` (from `schedule`) into one file per `file_ms` of
    creation time. Modification times increase by one second per file so
    the file source reads them in creation order."""
    os.makedirs(out_dir, exist_ok=True)
    staging = out_dir + ".staging"
    os.makedirs(staging, exist_ok=True)
    groups = {}
    for created, utc, t, p in ticks:
        groups.setdefault(created // file_ms, []).append(line(base_ms + utc, t, p))
    first_mtime = time.time() - len(groups) - 10
    for n, k in enumerate(sorted(groups)):
        put_file(staging, out_dir, "ticks-%06d.json" % k, groups[k], first_mtime + n)
    os.rmdir(staging)
    return len(ticks)


def live(out_dir, log_path, ticks, slot_ms):
    """Open loop: file k holds the ticks created in slot k and is added at
    the slot's end, start_ms + (k + 1) * slot_ms, where start_ms is the
    next whole second but one. Records how late each file was added."""
    start_ms = (int(time.time()) + 2) * 1000
    staging = out_dir + ".staging"
    os.makedirs(staging, exist_ok=True)
    slots = {}
    for created, utc, t, p in ticks:
        slots.setdefault(created // slot_ms, []).append((utc, t, p))
    late = []
    for k in range(max(slots) + 1):
        due = (start_ms + (k + 1) * slot_ms) / 1000.0
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        rows = slots.get(k, [])
        put_file(staging, out_dir, "ticks-%06d.json" % k,
                 [line(start_ms + utc, t, p) for utc, t, p in rows])
        late.append(max(0.0, (time.time() - due) * 1000.0))
    os.rmdir(staging)
    with open(log_path, "w") as f:
        json.dump({"start_ms": start_ms, "slot_ms": slot_ms, "late_ms": late,
                   "file_rows": [len(slots.get(k, [])) for k in range(len(late))]}, f)


if __name__ == "__main__":
    # gen.py live <out_dir> <log_path> <seed> <n_tickers> <skew> <rate>
    #             <seconds> <ooo_share> <ooo_max_ms> <slot_ms>
    if len(sys.argv) != 12 or sys.argv[1] != "live":
        sys.exit("usage: gen.py live <out_dir> <log_path> <seed> <n_tickers> <skew> "
                 "<rate> <seconds> <ooo_share> <ooo_max_ms> <slot_ms>")
    a = sys.argv[2:]
    sched = schedule(int(a[2]), int(a[3]), float(a[4]), int(a[5]), float(a[6]),
                     float(a[7]), int(a[8]))
    live(a[0], a[1], sched, int(a[9]))
