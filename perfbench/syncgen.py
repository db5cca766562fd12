"""Seeded nightly inputs for the ``sync_nightly`` workload, and the
checker for the update files a night produces.

A :class:`SyncWorld` holds two evolving states:

- the ERP (Jenzabar) side: rosters, courses, sections and enrollments
  over four terms (``TERMS``), of which ``CURRENT`` is the term the
  sync runs for;
- the Canvas side: the users, courses, sections and enrollments the
  nightly provisioning report lists for the current term.

The world starts with Canvas in step with the ERP. Every night
drifts both sides before the sync runs: the ERP adds and drops
enrollments, enrolls new students and offers a new course (plus
next-term registrations, which the term filter must ignore); on
Canvas, staff add manual (``created_by_sis=false``) enrollments and
sections, delete a few SIS enrollments and users by hand, and the
report keeps its junk users (``sdemo`` logins, NULL and non-numeric
ids). The world computes the seven update files the sync must emit
(the planted truth), and after the night it applies them to the
Canvas side, so the next night's report is this night's state after
apply, plus drift.

All choices come from one ``numpy`` generator seeded by ``seed``; no
set is ever iterated for ordering, so a seed reproduces its nights
byte for byte.
"""

from __future__ import annotations

import csv
import glob
import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TERMS = ("231S", "232S", "241S", "242S")
CURRENT = "241S"
NEXT = "242S"
DEPTS = ("ACC", "BIO", "CHM", "CS", "ECO", "ENG", "HIS", "MTH", "MUS", "PHY")
FIRST = ("Ada", "Ben", "Cy", "Dee", "Eli", "Fay", "Gus", "Ivy", "Jo", "Kai")
LAST = ("Bell", "Cruz", "Diaz", "Ng", "Ortiz", "Park", "Rossi", "Shaw")

# column order of each update file (Canvas SIS-import shapes)
UPDATE_COLUMNS = {
    "faculty_users": ("user_id", "login_id", "first_name", "last_name", "status"),
    "student_users": ("user_id", "login_id", "first_name", "last_name", "status"),
    "courses": ("course_id", "short_name", "long_name", "term_id", "status"),
    "sections": ("section_id", "course_id", "name", "status"),
    "enrollments": ("course_id", "user_id", "role", "section_id", "status"),
    "ctl_library_courses": (
        "course_id", "short_name", "long_name", "term_id", "status",
    ),
    "ctl_library_sections": ("section_id", "course_id", "name", "status"),
}

_NUMERIC = re.compile(r"[0-9]+")


def _split(term: str) -> tuple[str, str]:
    return term[:2], term[2:]


class SyncWorld:
    """ERP and Canvas state for one seed; ``n_students`` sets the size
    (about 4.5 current-term enrollments per student, one faculty
    member per 20 students, one course per 10 students)."""

    def __init__(self, seed: int, n_students: int):
        self.rng = np.random.default_rng([seed, 4_157])
        self.night = 0
        n_fac = max(4, n_students // 20)
        n_crs = max(4, n_students // 10)
        self.people: dict[int, tuple[str, str, str]] = {}
        self.students = [self._person(100_000 + i, "s") for i in range(n_students)]
        self.faculty = [self._person(900_000 + i, "f") for i in range(n_fac)]
        self.catalog = [
            f"{DEPTS[i % len(DEPTS)]}{1000 + i}" for i in range(n_crs)
        ]
        # ERP, per term: rosters (id lists), courses, sections, enrollments
        self.fac_roster: dict[str, dict[int, None]] = {}
        self.stu_roster: dict[str, dict[int, None]] = {}
        self.courses: dict[str, dict[str, str]] = {}
        self.sections: dict[str, dict[tuple[str, str], str]] = {}
        self.enr: dict[str, dict[tuple[str, int, str, str], None]] = {}
        for term in TERMS:
            self._offer_term(term)
        # Canvas: the current term's provisioning report
        self._canvas_id = 5_000_000
        self.c_users: dict[str | None, tuple[int, str]] = {}
        self.c_courses: dict[str, int] = {}
        self.c_sections: dict[tuple[str, str], tuple[int, str, bool]] = {}
        self.c_enr: dict[tuple[str, str, str, str], tuple[int, int, bool]] = {}
        for pid, (login, _, _) in self.people.items():
            self.c_users[str(pid)] = (self._cid(), login)
        for i in range(3):
            self.c_users[f"sdemo{i}"] = (self._cid(), f"sdemo{i}")
            self.c_users[f"CanvasStu{i}"] = (self._cid(), f"canvas.stu{i}")
        self.null_users = [(self._cid(), f"guest{i}") for i in range(3)]
        self.expected: dict[str, list[tuple[str, ...]]] = {}
        self._apply(self._updates())

    # ----------------------------------------------------------- ERP
    def _person(self, pid: int, kind: str) -> int:
        first = FIRST[int(self.rng.integers(len(FIRST)))]
        last = LAST[int(self.rng.integers(len(LAST)))]
        self.people[pid] = (f"{kind}{pid}", first, last)
        return pid

    def _cid(self) -> int:
        self._canvas_id += 1
        return self._canvas_id

    def _offer_term(self, term: str) -> None:
        rng = self.rng
        offered = [c for c in self.catalog if rng.random() < 0.7]
        self.courses[term] = {c: f"{c[:-4]} Topics {c[-4:]}" for c in offered}
        secs: dict[tuple[str, str], str] = {}
        for c in offered:
            for k in range(int(rng.integers(1, 4))):
                secs[(c, f"{c}-S{k}")] = f"Section {k} of {c}"
        self.sections[term] = secs
        self.enr[term] = {}
        self.fac_roster[term] = {}
        self.stu_roster[term] = {}
        sec_keys = list(secs)
        for c, s in sec_keys:
            fid = self.faculty[int(rng.integers(len(self.faculty)))]
            self._enroll(term, (c, fid, "teacher", s), self.fac_roster)
        for sid in self.students:
            if rng.random() < 0.85:
                self._enroll_student(term, sid, int(rng.integers(3, 7)))

    def _enroll(self, term, key, roster) -> None:
        self.enr[term][key] = None
        roster[term][key[1]] = None

    def _enroll_student(self, term: str, sid: int, k: int) -> None:
        secs = list(self.sections[term])
        taken: set[str] = set()
        for i in self.rng.choice(len(secs), min(k, len(secs)), replace=False):
            c, s = secs[int(i)]
            if c in taken:
                continue
            taken.add(c)
            self._enroll(term, (c, sid, "student", s), self.stu_roster)

    def _drift_erp(self) -> None:
        rng, term = self.rng, CURRENT
        enr = self.enr[term]
        students = [k for k in enr if k[2] == "student"]
        n = len(students)
        for i in rng.choice(n, max(1, n // 100), replace=False):
            del enr[students[int(i)]]
        secs = list(self.sections[term])
        for _ in range(max(1, n // 100)):
            sid = self.students[int(rng.integers(len(self.students)))]
            c, s = secs[int(rng.integers(len(secs)))]
            if not any((c, sid, "student", x) in enr for (cc, x) in secs if cc == c):
                self._enroll(term, (c, sid, "student", s), self.stu_roster)
        for _ in range(max(1, len(self.students) // 500)):
            sid = self._person(100_000 + len(self.students), "s")
            self.students.append(sid)
            self._enroll_student(term, sid, int(rng.integers(3, 6)))
        fid = self._person(900_000 + len(self.faculty), "f")
        self.faculty.append(fid)
        crs = f"{DEPTS[self.night % len(DEPTS)]}{1000 + len(self.catalog)}"
        self.catalog.append(crs)
        self.courses[term][crs] = f"{crs[:-4]} Topics {crs[-4:]}"
        for k in range(2):
            sec = (crs, f"{crs}-S{k}")
            self.sections[term][sec] = f"Section {k} of {crs}"
            self._enroll(term, (crs, fid, "teacher", sec[1]), self.fac_roster)
        # next-term registrations: other-term churn the sync must ignore
        nxt = list(self.sections[NEXT])
        for _ in range(max(1, n // 200)):
            sid = self.students[int(rng.integers(len(self.students)))]
            c, s = nxt[int(rng.integers(len(nxt)))]
            self._enroll(NEXT, (c, sid, "student", s), self.stu_roster)

    # -------------------------------------------------------- Canvas
    def _drift_canvas(self) -> None:
        rng = self.rng
        sis = [k for k, v in self.c_enr.items() if v[2]]
        for i in rng.choice(len(sis), max(1, len(sis) // 500), replace=False):
            del self.c_enr[sis[int(i)]]  # deleted by hand in Canvas
        # manual enrollments: half random, half shadowing a pending
        # ERP add (the manual row must not count as SIS-provisioned)
        secs = [k for k in self.c_sections]
        pending = [
            (c, str(u), r, s)
            for (c, u, r, s) in self.enr[CURRENT]
            if (c, str(u), r, s) not in self.c_enr
        ]
        for _ in range(max(1, len(sis) // 400)):
            c, s = secs[int(rng.integers(len(secs)))]
            sid = self.students[int(rng.integers(len(self.students)))]
            key = (c, str(sid), "student", s)
            if key not in self.c_enr:
                self.c_enr[key] = (self._cid(), self.c_sections[(c, s)][0], False)
        for i in rng.choice(len(pending), min(len(pending), 3), replace=False):
            key = pending[int(i)]
            sec = self.c_sections.get((key[0], key[3]))
            if sec is not None:
                self.c_enr[key] = (self._cid(), sec[0], False)
        # a manual section, and a SIS section taken over by hand
        c = list(self.c_courses)[int(rng.integers(len(self.c_courses)))]
        self.c_sections[(c, f"{c}-M{self.night}")] = (self._cid(), "Manual", False)
        sis_secs = [k for k, v in self.c_sections.items() if v[2]]
        k = sis_secs[int(rng.integers(len(sis_secs)))]
        cid, name, _ = self.c_sections[k]
        self.c_sections[k] = (cid, name, False)
        # users removed by hand (ERP rosters re-provision them)
        ids = [u for u in self.c_users if u is not None and u.isdigit()]
        for i in rng.choice(len(ids), 2, replace=False):
            del self.c_users[ids[int(i)]]
        fac = [u for u in ids if int(u) >= 900_000 and int(u) in self.fac_roster[CURRENT]]
        if fac:
            self.c_users.pop(fac[int(rng.integers(len(fac)))], None)

    # ------------------------------------------------- planted truth
    def _updates(self) -> dict[str, list[tuple[str, ...]]]:
        term = CURRENT
        user_ids = {int(u) for u in self.c_users if u and _NUMERIC.fullmatch(u)}

        def missing_users(roster):
            return [
                (str(p), *self.people[p], "active")
                for p in roster[term] if p not in user_ids
            ]

        courses = [
            (c, c, title, term, "active")
            for c, title in self.courses[term].items()
            if c not in self.c_courses
        ]
        sis_secs = {k for k, v in self.c_sections.items() if v[2]}
        sections = [
            (s, c, name, "active")
            for (c, s), name in self.sections[term].items()
            if (c, s) not in sis_secs
        ]
        erp = {(c, str(u), r, s) for (c, u, r, s) in self.enr[term]}
        sis_enr = [k for k, v in self.c_enr.items() if v[2]]
        sis_keys = set(sis_enr)
        enrollments = [
            (c, u, r, s, "active")
            for (c, u, r, s) in (
                (c, str(u), r, s) for (c, u, r, s) in self.enr[term]
            )
            if (c, u, r, s) not in sis_keys
        ] + [(*k, "deleted") for k in sis_enr if k not in erp]
        return {
            "faculty_users": missing_users(self.fac_roster),
            "student_users": missing_users(self.stu_roster),
            "courses": courses,
            "sections": sections,
            "enrollments": enrollments,
            "ctl_library_courses": [
                (f"CTL-{c}", sn, f"CTL Library {ln}", t, st)
                for (c, sn, ln, t, st) in courses
            ],
            "ctl_library_sections": [
                (f"CTL-{s}", f"CTL-{c}", name, st)
                for (s, c, name, st) in sections
            ],
        }

    def _apply(self, updates) -> None:
        for kind in ("faculty_users", "student_users"):
            for uid, login, *_ in updates[kind]:
                self.c_users[uid] = (self._cid(), login)
        for prefix in ("", "CTL-"):
            for c, *_ in updates["courses"]:
                self.c_courses.setdefault(prefix + c, self._cid())
            for s, c, name, _ in updates["sections"]:
                key = (prefix + c, prefix + s)
                cid = self.c_sections.get(key, (self._cid(),))[0]
                self.c_sections[key] = (cid, name, True)
        for c, u, r, s, status in updates["enrollments"]:
            key = (c, u, r, s)
            if status == "deleted":
                del self.c_enr[key]
            else:
                cid = self.c_enr.get(key, (self._cid(),))[0]
                self.c_enr[key] = (cid, self.c_sections[(c, s)][0], True)

    # ---------------------------------------------------------- API
    def next_night(self) -> dict[str, list[tuple[str, ...]]]:
        """Drift both sides into the next night; returns (and keeps in
        ``self.expected``) the update rows that night's sync must emit.
        Call :meth:`finish_night` after the sync ran."""
        self._drift_erp()
        self._drift_canvas()
        self.expected = self._updates()
        return self.expected

    def finish_night(self) -> None:
        """Apply the night's planted updates to Canvas."""
        self._apply(self.expected)
        self.night += 1

    def erp_tables(self) -> dict[str, pa.Table]:
        def roster(r):
            rows = [
                (p, *self.people[p], *_split(t)) for t in TERMS for p in r[t]
            ]
            return _table(rows, [
                ("id_num", pa.int64()), ("login_id", pa.string()),
                ("first_name", pa.string()), ("last_name", pa.string()),
                ("yr_cde", pa.string()), ("trm_cde", pa.string()),
            ])

        yr, trm = _split(CURRENT)
        return {
            "reg_config": _table([(f"{yr} ", f"{trm} ")], [
                ("CUR_YR_DFLT", pa.string()), ("CUR_TRM_DFLT", pa.string()),
            ]),
            "faculty": roster(self.fac_roster),
            "students": roster(self.stu_roster),
            "courses": _table(
                [(c, ti, *_split(t)) for t in TERMS
                 for c, ti in self.courses[t].items()],
                [("crs_cde", pa.string()), ("title", pa.string()),
                 ("yr_cde", pa.string()), ("trm_cde", pa.string())],
            ),
            "sections": _table(
                [(c, s, n, *_split(t)) for t in TERMS
                 for (c, s), n in self.sections[t].items()],
                [("crs_cde", pa.string()), ("section_id", pa.string()),
                 ("name", pa.string()), ("yr_cde", pa.string()),
                 ("trm_cde", pa.string())],
            ),
            "enrollments": _table(
                [(*k, *_split(t)) for t in TERMS for k in self.enr[t]],
                [("course_id", pa.string()), ("user_id", pa.int64()),
                 ("role", pa.string()), ("section_id", pa.string()),
                 ("yr_cde", pa.string()), ("trm_cde", pa.string())],
            ),
        }

    def raw_tables(self) -> dict[str, pa.Table]:
        """The Canvas provisioning report, with one extra column per
        entity that cleaning must project away."""
        users = [(u, cid, login, f"Name {cid}") for u, (cid, login) in self.c_users.items()]
        users += [(None, cid, login, "Guest") for cid, login in self.null_users]
        return {
            "users": _table(users, [
                ("user_id", pa.string()), ("canvas_user_id", pa.int64()),
                ("login_id", pa.string()), ("full_name", pa.string()),
            ]),
            "courses": _table(
                [(cid, c, "active", 1) for c, cid in self.c_courses.items()],
                [("canvas_course_id", pa.int64()), ("course_id", pa.string()),
                 ("status", pa.string()), ("account_id", pa.int64())],
            ),
            "sections": _table(
                [(c, s, name, "active", 1, cid, sis, "2024-01-08")
                 for (c, s), (cid, name, sis) in self.c_sections.items()],
                [("course_id", pa.string()), ("section_id", pa.string()),
                 ("name", pa.string()), ("status", pa.string()),
                 ("account_id", pa.int64()), ("canvas_section_id", pa.int64()),
                 ("created_by_sis", pa.bool_()), ("start_date", pa.string())],
            ),
            "enrollments": _table(
                [(c, u, r, s, "active", cid, sec, sis, None)
                 for (c, u, r, s), (cid, sec, sis) in self.c_enr.items()],
                [("course_id", pa.string()), ("user_id", pa.string()),
                 ("role", pa.string()), ("section_id", pa.string()),
                 ("status", pa.string()), ("canvas_enrollment_id", pa.int64()),
                 ("canvas_section_id", pa.int64()),
                 ("created_by_sis", pa.bool_()),
                 ("associated_user_id", pa.string())],
            ),
        }

    def write_inputs(self, erp_dir: str, raw_dir: str) -> None:
        for d, tables in ((erp_dir, self.erp_tables()), (raw_dir, self.raw_tables())):
            os.makedirs(d, exist_ok=True)
            for name, t in tables.items():
                pq.write_table(t, os.path.join(d, f"{name}.parquet"))


def _table(rows, fields) -> pa.Table:
    cols = list(zip(*rows)) if rows else [()] * len(fields)
    return pa.table(
        {name: pa.array(list(c), typ) for (name, typ), c in zip(fields, cols)}
    )


def read_update_file(out_dir: str, entity: str):
    """(header, rows) of one update file written by the CSV sink (one
    part file after ``coalesce(1)``; an empty part file has neither)."""
    header, rows = None, []
    for path in sorted(glob.glob(os.path.join(out_dir, entity, "*.csv"))):
        with open(path, newline="", encoding="utf-8") as f:
            r = list(csv.reader(f))
        if r:
            header, rows = tuple(r[0]), rows + [tuple(x) for x in r[1:]]
    return header, rows


def check_updates(out_dir: str, expected: dict[str, list[tuple[str, ...]]]) -> list[str]:
    """Compare each of the seven update files with the planted truth;
    returns one reason per mismatching file (empty when all match)."""
    problems = []
    for entity, cols in UPDATE_COLUMNS.items():
        header, rows = read_update_file(out_dir, entity)
        want = Counter(expected[entity])
        if header is None and not rows:
            if want:
                problems.append(f"{entity}: no update file, want {sum(want.values())} rows")
            continue
        if header != cols:
            problems.append(f"{entity}: header {header} != {cols}")
            continue
        got = Counter(rows)
        if got != want:
            missing, extra = want - got, got - want
            problems.append(
                f"{entity}: {sum(missing.values())} rows missing"
                f" (e.g. {next(iter(missing), None)}),"
                f" {sum(extra.values())} unexpected"
                f" (e.g. {next(iter(extra), None)})"
            )
    return problems
