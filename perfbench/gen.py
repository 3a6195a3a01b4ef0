"""Seeded input generators for the benchmark workloads.

Every generator writes its inputs in the reference's own file format
(FIXTURES.md F-JOBS, plus per-minute meter usage events) into a fresh directory and returns the expectation the run is checked
against.  Expectations come from what the generator planted, never from
the engine under test.  The same seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import quopri
import random
from pathlib import Path

# Input sizes (README.md, "Workloads", says why each was chosen).
SNAPSHOTS = 96  # jobsearch_text: MHTML snapshot files
JOBS = 240  # distinct job ids across all snapshots
STREAM_METERS = 400  # meter_stream: meters x per-minute events
STREAM_FILES = 10  # one parquet file per micro-batch
STREAM_FILE_MINUTES = 15


# ---------------------------------------------------------------------------
# jobsearch_text: F-JOBS MHTML activity snapshots.

START, END = "Your recent activity", "Show deleted jobs"
ROLES = ("Data Engineer", "Analytics Engineer", "Platform Engineer", "ML Engineer",
         "BI Developer", "Data Architect")
FIRMS = ("Northwind", "Contoso", "Fabrikam", "Tailspin", "Globex", "Initech", "Umbrella")
# (line holding the status keyword, label the engine must emit).
# "Unsuccessful" is listed to trap a "successful"-first matcher.
STATUSES = (("Application unsuccessful", "Unsuccessful"), ("Offer successful", "Successful"),
            ("Application rejected", "Rejected"), ("Profile viewed", "Viewed"),
            ("Application applied", "Applied"), ("No longer considering", "No longer considering"))


def job_snapshots(root: Path, seed: int) -> dict:
    """Write ``<yyyymmdd>_activity_<n>.mhtml`` snapshots in two shapes.

    Odd snapshots are browser saves (multipart/related,
    quoted-printable, ``<!DOCTYPE>`` first, attributes and character
    references), which take the stdlib MIME and HTML parsers.  Even
    snapshots are single-part, tag-only pages, which take the fast
    paths.  Each snapshot lists the blocks of the jobs active in a
    sliding window, so most blocks recur, unchanged, across files; a
    few files lack the 8-digit date prefix and are skipped.

    Returns the report the pipeline must render: distinct blocks
    grouped by job id, the earliest file keeping each duplicate.
    """
    rng = random.Random(f"jobsearch_text:{seed}")
    root.mkdir(parents=True)
    day0 = dt.date(2025, 6, 1)
    # Start days are a shuffled fixed grid, so every seed plants the
    # same number of blocks per snapshot; the seed varies the content.
    starts = [j * (SNAPSHOTS * 3 // 2) // JOBS for j in range(JOBS)]
    rng.shuffle(starts)
    jobs = []
    for j in range(JOBS):
        role, firm = rng.choice(ROLES), rng.choice(FIRMS)
        jobs.append({
            "id": f"{role} #{j:04d} {firm}",
            "firm": f"{firm} Ltd, London",
            "start": starts[j],
            "status": [rng.randrange(len(STATUSES)) for _ in range(3)],
            "shape": rng.randrange(3),
        })
    blocks: dict[str, tuple[str, dt.date, list[str]]] = {}  # signature -> kept block
    for n in range(SNAPSHOTS):
        ref = day0 + dt.timedelta(days=n * 3 // 2)
        label = f"{ref:%Y%m%d}"
        dated = n % 17 != 5  # undated file names are skipped by the pipeline
        page: list[str] = []
        for job in jobs:
            age = (ref - day0).days - job["start"]
            if not 0 <= age < 40:
                continue
            stage = min(age // 14, 2)
            raw, final, date = _block(job, stage, ref, day0)
            page += raw
            sig = "\x1f".join(final)
            if dated and (sig not in blocks or label < blocks[sig][0]):
                blocks[sig] = (label, date, final)
        lines = ["Jobs home", "Search", START, *page, END, "Footer"]
        name = f"{label}_activity_{n:03d}.mhtml" if dated else f"activity_{n:03d}.mhtml"
        body = _browser_save(lines) if n % 2 else _single_part(lines)
        (root / name).write_bytes(body)
    groups: dict[str, list] = {}
    for label, date, final in blocks.values():
        groups.setdefault(final[0], []).append((date, label, final))
    ordered = sorted(
        ((key, sorted(snaps, reverse=True)) for key, snaps in groups.items()),
        key=lambda g: (-g[1][0][0].toordinal(), g[0]),
    )
    report: list[str] = []
    for key, snaps in ordered:
        report.append(f"## {key}  ({snaps[0][0].isoformat()})")
        for _date, label, final in snaps:
            report.append(f"- [{label}]")
            report.extend(f"  {ln}" for ln in final)
        report.append("")
    return {"glob": str(root / "*.mhtml"), "report": report}


def _block(job: dict, stage: int, ref: dt.date, day0: dt.date):
    """Raw page lines of one job block, the lines the engine must keep,
    and the block date.  The event date is fixed per (job, stage), so
    the block repeats byte-identically in every snapshot showing it."""
    event = day0 + dt.timedelta(days=job["start"] + 14 * stage)
    ago = (ref - event).days
    keyword, label = STATUSES[job["status"][stage]]
    when = f"{ago} days ago"
    flush = f"Updated on {event:%d %b %Y}"
    resolved = f"{label} on {event.isoformat()}"
    head = [job["id"], job["firm"]]
    if job["shape"] == 0:  # keyword on the date line
        raw = head + [f"{keyword} {when}", "Update job", flush]
    elif job["shape"] == 1:  # keyword on the previous line: it is consumed
        raw = head + [keyword, when, flush]
    else:  # no keyword at all: defaults to Applied, the line stays
        head.append("Status pending")
        raw = head + [when, flush]
        resolved = f"Applied on {event.isoformat()}"
    return raw, head + [resolved, flush], event


def _single_part(lines: list[str]) -> bytes:
    html = "<html><body>" + "".join(f"<div>{ln}</div>" for ln in lines) + "</body></html>"
    head = ("MIME-Version: 1.0\r\nContent-Type: text/html; charset=utf-8\r\n"
            "Content-Transfer-Encoding: 8bit\r\n\r\n")
    return head.encode() + html.encode()


def _browser_save(lines: list[str], meta: str = '<meta charset="utf-8" />') -> bytes:
    esc = [ln.replace("&", "&amp;").replace(",", "&#44;") for ln in lines]
    html = (
        f"<!DOCTYPE html><html><head>{meta}<title>My jobs</title>"
        "<style>.row{margin:0}</style></head><body>"
        + "".join(f'<div class="row" data-x="1">{ln}</div>' for ln in esc)
        + "<script>var a = 1 < 2;</script></body></html>"
    )
    boundary = "----MultipartBoundary--x7Qm3----"
    part = (
        f"--{boundary}\r\nContent-Type: text/html\r\n"
        "Content-ID: <frame-0@mhtml.blink>\r\nContent-Transfer-Encoding: quoted-printable\r\n"
        "Content-Location: https://jobs.example/activity\r\n\r\n"
    ).encode() + quopri.encodestring(html.encode()) + f"\r\n--{boundary}--\r\n".encode()
    head = (
        "From: <Saved by Blink>\r\nSnapshot-Content-Location: https://jobs.example/activity\r\n"
        "Subject: My jobs\r\nMIME-Version: 1.0\r\n"
        f'Content-Type: multipart/related;\r\n\ttype="text/html";\r\n\tboundary="{boundary}"\r\n\r\n'
    ).encode()
    return head + part


def meta_page() -> tuple[bytes, list[str]]:
    """A browser save whose ``<meta charset>`` is not self-closed, as
    browsers write it, and the text lines it holds.  The main page mix
    self-closes the tag (see README, "Known engine defects")."""
    lines = ["Your recent activity", "Data Engineer #0001 Northwind", "Show deleted jobs"]
    return _browser_save(lines, meta='<meta charset="utf-8">'), lines


def redos_page(text_chars: int = 40) -> bytes:
    """A single-part, doctype-less page whose long text run is followed
    by ``&amp;``.  No browser save has this shape, which is the only
    reason the main page mix avoids it."""
    text = "a" * text_chars
    return (b"MIME-Version: 1.0\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
            + f"<p>{text}&amp;</p>".encode())


# ---------------------------------------------------------------------------
# meter_stream: per-minute usage events, one parquet file per batch.


def stream_events(root: Path, seed: int) -> dict:
    """Write ``events_<k>.parquet``: per-minute (meter, ts, value) events,
    file k holding the k-th ``STREAM_FILE_MINUTES`` window for every
    meter.  Values are whole watt-hours, so sums are exact.

    Returns the batch bucketing of the same events: per (meter,
    end-labeled 15-minute bucket), minutes and peak/off-peak sums.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"meter_stream:{seed}")
    root.mkdir(parents=True)
    t0 = dt.datetime(2025, 3, 29, 20, 0)
    buckets: dict[tuple[str, int], list] = {}
    epoch = dt.datetime(1970, 1, 1)
    for k in range(STREAM_FILES):
        meters, stamps, values = [], [], []
        for m in range(STREAM_METERS):
            meter = f"m{m:03d}"
            base = t0 + dt.timedelta(minutes=k * STREAM_FILE_MINUTES)
            for i in range(STREAM_FILE_MINUTES):
                t = base + dt.timedelta(minutes=i)
                v = float(rng.randint(0, 40))
                meters.append(meter)
                stamps.append(t)
                values.append(v)
                mod = t.hour * 60 + t.minute
                b = int(((t - epoch).total_seconds() - 60) // 900 * 900)
                acc = buckets.setdefault((meter, b), [0, 0.0, 0.0, False, False])
                acc[0] += 1
                if 390 < mod <= 1410:
                    acc[1] += v
                    acc[3] = True
                else:
                    acc[2] += v
                    acc[4] = True
        table = pa.table({
            "meter": pa.array(meters, pa.string()),
            "ts": pa.array(stamps, pa.timestamp("us", tz="UTC")),
            "value": pa.array(values, pa.float64()),
        })
        pq.write_table(table, root / f"events_{k:03d}.parquet")
    expected = {
        key: (acc[0], acc[1] if acc[3] else None, acc[2] if acc[4] else None)
        for key, acc in buckets.items()
    }
    return {"path": str(root), "files": STREAM_FILES, "buckets": expected}


def input_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
