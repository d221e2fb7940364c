"""Seeded inputs of the pipeline workloads, built without Spark.

The REST payloads of the Latinad and Sercom APIs, in the shapes of
``etl_python_azure_spark/plans/synthetic.py``, rendered to bytes on
disk before any clock starts. Ids, values and the set of failing
report requests vary with the seed. (The query mixes read the
repository's own test tables, copied under ``perfbench/data``.)

Everything here is a pure function of (seed, scale): the same seed
gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream
    never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


LATINAD_DATES = [str(dt.date(2024, 1, 1) + dt.timedelta(days=i)) for i in range(26)]
# partitions of the prior contenido_data table outside the refresh window
LATINAD_OLD_DATES = [str(dt.date(2023, 12, 26) + dt.timedelta(days=i)) for i in range(6)]
# the one display id the pipeline drops (P4, `L:49`)
LATINAD_DROPPED_DISPLAY = 40660


def _save(path: str, status: int, body: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(f"{status}\n{body}")


def latinad_payloads(out_dir: str, seed: int, n_displays: int,
                     n_contents: int, rows_per_report: int) -> dict:
    """Render the Latinad API under *out_dir*; returns the facts the
    output check needs (kept apart from the bytes the engine reads)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "latinad")
    display_ids = r.choice(np.arange(1, 40_000), n_displays - 1, replace=False)
    display_ids = np.sort(np.append(display_ids, LATINAD_DROPPED_DISPLAY))
    kept_displays = display_ids[display_ids != LATINAD_DROPPED_DISPLAY]
    displays = [
        {
            "id": int(i),
            "company_id": int(r.integers(0, 40)),
            "name": f"display-{i}",
            "resolution_width": 1920,
            "resolution_height": 1080,
            "latitude": round(-33.0 - float(r.random()), 4),
            "longitude": round(-70.0 - float(r.random()), 4),
            "slots": int(r.integers(0, 8)),
            "slot_length": 10,
            "published": bool(r.random() < 0.9),
            "country": "CL" if r.random() < 0.67 else "AR",
            "audience_provider": {"id": int(r.integers(0, 5)), "name": "prov"},
        }
        for i in display_ids
    ]
    _save(os.path.join(out_dir, "displays"), 200, json.dumps(displays))

    content_ids = np.sort(r.choice(np.arange(1000, 1000 + 20 * n_contents),
                                   n_contents, replace=False))
    contents = [
        {
            "id": int(c),
            "name": f"content-{c}",
            "type": "video" if r.random() < 0.5 else "image",
            "file": "x" * 60 if r.random() < 1 / 7 else f"file-{c}.mp4",
            "width": 1280,
            "height": 720,
            "length": 15,
            "ready": True,
            "company_id": int(r.integers(0, 40)),
            "category": f"cat{int(r.integers(0, 6))}",
            "count_displays": int(r.integers(0, 9)),
        }
        for c in content_ids
    ]
    _save(os.path.join(out_dir, "contents"), 200, json.dumps({"data": contents}))

    n_fail = max(1, n_contents // 97)
    failing = set(int(c) for c in r.choice(content_ids, n_fail, replace=False))
    rows = []  # expected contenido_data rows, as the pipeline shapes them
    for c in content_ids:
        c = int(c)
        if c in failing:
            _save(os.path.join(out_dir, f"report-{c}"), 500, "upstream error")
            continue
        off = int(r.integers(0, len(kept_displays)))
        shows = r.integers(0, 50, rows_per_report)
        ttime = 100 * r.integers(0, 900, rows_per_report)
        impacts = r.integers(0, 1000, rows_per_report)
        null_imp = r.random(rows_per_report) < 1 / 11
        recs = []
        for j in range(rows_per_report):
            d = int(kept_displays[(off + j) % len(kept_displays)])
            date = LATINAD_DATES[j % len(LATINAD_DATES)]
            imp = None if null_imp[j] else int(impacts[j])
            recs.append({
                "display": d, "content": c, "child_content_id": None,
                "shows": int(shows[j]), "total_time": int(ttime[j]),
                "date": date, "impacts": imp,
            })
            rows.append((d, c, int(shows[j]), int(ttime[j]) / 100, date,
                         0 if imp is None else imp, f"{c}{d}{date}",
                         f"content-{c}"))
        _save(os.path.join(out_dir, f"report-{c}"), 200, json.dumps({"report": recs}))
    return {
        "display_ids": [int(i) for i in kept_displays],
        "content_ids": [int(c) for c in content_ids],
        "arch_blanked": sum(1 for c in contents if len(c["file"]) > 50),
        "rows": rows,
    }


def latinad_prior_rows(seed: int, content_ids: list[int], display_ids: list[int],
                       per_date: int) -> list[tuple]:
    """Rows of the prior contenido_data table: stale rows on every
    window date (the refresh replaces them) and rows on dates before
    the window (the refresh must leave them alone)."""
    r = _rng(seed, "latinad-prior")
    out = []
    for date in LATINAD_OLD_DATES + LATINAD_DATES:
        for _ in range(per_date):
            c = int(content_ids[r.integers(0, len(content_ids))])
            d = int(display_ids[r.integers(0, len(display_ids))])
            out.append((d, c, int(r.integers(0, 50)), float(r.integers(0, 900)),
                        date, int(r.integers(0, 1000)), f"{c}{d}{date}",
                        f"content-{c}"))
    return out


def _iso(day: dt.date, hour: int, minute: int = 0) -> str:
    return f"{day.isoformat()}T{hour:02d}:{minute:02d}:00"


def sercom_payloads(out_dir: str, seed: int, n_tasks: int, n_turns: int,
                    n_projects: int, n_elements: int) -> dict:
    """Render the Sercom API under *out_dir* (current state) and
    ``out_dir + '-prior'`` (the state the previous run loaded).

    The prior state holds 60% of the current task ids, half with an
    older ``updated_at`` (the run updates them) and half with a newer
    one (the run keeps them), plus 5% ids the API no longer returns.
    """
    prior_dir = out_dir + "-prior"
    for d in (out_dir, prior_dir):
        os.makedirs(d, exist_ok=True)
    r = _rng(seed, "sercom")
    ids = np.sort(r.choice(np.arange(1, 20 * n_tasks), n_tasks + n_tasks // 20,
                           replace=False))
    r.shuffle(ids)
    current_ids, gone_ids = ids[:n_tasks], ids[n_tasks:]

    all_ids = np.concatenate([current_ids, gone_ids])
    n_all = len(all_ids)
    f = {
        "state": r.integers(0, 3, n_all), "created_by": r.integers(0, 50, n_all),
        "update_by": r.integers(0, 50, n_all), "type": r.integers(0, 12, n_all),
        "element": r.integers(0, n_elements, n_all),
        "project": r.integers(0, n_projects, n_all),
        "obs": r.random(n_all) < 0.2, "created": r.integers(0, 28, n_all),
        "updated": r.integers(0, 28, n_all), "hour": r.integers(0, 24, n_all),
        "team": r.integers(0, 30, n_all), "has_team": r.random(n_all) < 0.75,
        "turn": r.integers(0, n_turns, n_all), "has_turn": r.random(n_all) < 0.67,
        "ot": r.integers(0, n_projects, n_all),
    }
    f = {k: v.tolist() for k, v in f.items()}

    def task(k: int, shift_days: int = 0) -> dict:
        i = int(all_ids[k])
        created = dt.date(2024, 1, 1) + dt.timedelta(days=f["created"][k])
        updated = dt.date(2024, 3, 1) + dt.timedelta(days=f["updated"][k] + shift_days)
        return {
            "id": i,
            "state": {"name": ("open", "doing", "done")[f["state"][k]]},
            "created_by": {"name": f"user{f['created_by'][k]}"},
            "update_by": {"name": f"user{f['update_by'][k]}"},
            "task_type": {"id": f["type"][k], "name": "type"},
            "element_id": f["element"][k],
            "project_id": f["project"][k],
            "description": f"task {i} v{shift_days}",
            "observations": f"obs {i}" if f["obs"][k] else None,
            "created_at": _iso(created, 8),
            "updated_at": _iso(updated, f["hour"][k], 30),
            "team": {"id": f["team"][k] if f["has_team"][k] else None},
            "turn": {"id": f["turn"][k] if f["has_turn"][k] else None},
            "project": {"name": "p", "ot_number": f"OT-{f['ot'][k]}"},
        }

    current = [task(k) for k in range(n_tasks)]
    in_prior = r.random(n_tasks) < 0.6
    older = r.random(n_tasks) < 0.5
    prior = [task(k, -10 if older[k] else 10) for k in range(n_tasks) if in_prior[k]]
    prior += [task(k, -30) for k in range(n_tasks, n_all)]

    turns = [
        {
            "id": i,
            "date": _iso(dt.date(2024, 3, 1) + dt.timedelta(days=int(r.integers(0, 28))), 8),
            "team_id": int(r.integers(0, 30)),
            "workers": [
                {"worker": {"name": f"w{i}-{k}", "rut": f"{i}-{k}"}}
                for k in range(int(r.integers(0, 6)))
            ],
        }
        for i in range(n_turns)
    ]
    projects = [
        {"id": i, "name": f"p{i}", "add": f"CC-{i:04d}", "header": f"h{i}",
         "central_title": f"ct{int(r.integers(0, 9))}"}
        for i in range(n_projects)
    ]
    elements = [
        {
            "element_type_id": int(r.integers(0, 7)),
            "commune_name": f"commune{int(r.integers(0, 40))}",
            "id": i,
            "name": f"element-{i}",
            "latitude": round(-33.0 - float(r.random()) / 2, 5),
            "longitude": round(-70.0 - float(r.random()) / 2, 5),
            "address": f"street {i}",
            "deleted_at": _iso(dt.date(2024, 2, 1), 0) if i % 13 == 0 else None,
            "enabled": i % 13 != 0,
            "external_id": f"E{i:06d}",
        }
        for i in range(n_elements)
    ]
    for d, tasks in ((out_dir, current), (prior_dir, prior)):
        _save(os.path.join(d, "tasks"), 200, json.dumps(tasks))
        _save(os.path.join(d, "turns"), 200, json.dumps(turns))
        _save(os.path.join(d, "projects"), 200, json.dumps(projects))
        _save(os.path.join(d, "elements"), 200, json.dumps(elements))

    def db_row(t: dict) -> tuple:
        return (t["id"], t["state"]["name"], t["description"],
                t["updated_at"].replace("T", " "))

    prior_rows = {t["id"]: db_row(t) for t in prior}
    expected = dict(prior_rows)
    n_new = n_updated = 0
    for t in current:
        row = db_row(t)
        old = prior_rows.get(t["id"])
        if old is None:
            n_new += 1
            expected[t["id"]] = row
        elif row[3] > old[3]:
            n_updated += 1
            expected[t["id"]] = row
    return {
        "prior_rows": sorted(prior_rows.values()),
        "expected_rows": sorted(expected.values()),
        "n_new": n_new,
        "n_updated": n_updated,
        "n_turns": n_turns,
        "n_projects": n_projects,
        "n_elements": n_elements,
    }
