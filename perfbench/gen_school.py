#!/usr/bin/env python3
"""Seeded generator for the school sources of FIXTURES.md sections 1-7, the
input of the `etl_daily` workload: the Mongo collections (`evaluations`,
`scores`, `applicants`) and the Postgres tables (`student`,
`structure_record`, `subject`, `guardian`, `teacher`, `school`, `campus`,
`group_structure`), as parquet stand-ins.

Rows come in slices, written as `<out>/<table>/slice=<k>/part-0.parquet`.
Slice 0 is the history snapshot; slice k (1..DAYS) is what the sources gain
on day k: new rows plus, for the Postgres tables, a fixed share
(`UPDATE_SHARE`) of new versions of existing keys. Every timestamp of slice
k lies strictly after every timestamp of the slices before it, in whole
seconds, so a watermark taken after day k separates the slices exactly.

Edge cases the pipelines must survive are planted in every structure
record's evaluation tree and score set: a `na` root, month rows with an
`attendanceColumn`, a subject with `maxScore = 0`, a custom without `coe`,
a `coe <= 0`, legacy `datetime.date@version=2(...)` createdAt, scores
`"abc"` / null / `"95.5"`, `#undefined` and `#`-less structure paths,
gender spellings, a nested redundant `profile`, two subjects per structure
record, and UUID-like and plain employee ids.

`<out>/manifest.json` holds what the ETL check expects: the distinct keys
per copy mart, the school ids and the number of days. The same seed writes
the same rows; nothing depends on a clock.

    python3 perfbench/gen_school.py --out DIR --seed 7
"""
import argparse
import datetime as dt
import json
import os
import random
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

STUDENTS_PER_RECORD = 12
DAYS = 1
UPDATE_SHARE = 0.2

S, I, D, B, BY = pa.string(), pa.int32(), pa.float64(), pa.bool_(), pa.int8()
DATE, TS = pa.date32(), pa.timestamp("us", tz="UTC")


def _schema(*fields):
    return pa.schema([pa.field(n, t) for n, t in fields])


SCHEMAS = {
    "evaluations": _schema(
        ("evaluationId", S), ("parentId", S), ("type", S), ("name", S),
        ("description", S), ("sort", I), ("maxScore", D), ("coe", D),
        ("schoolId", S), ("campusId", S), ("groupStructureId", S),
        ("structurePath", S), ("templateId", S), ("configGroupId", S),
        ("referenceId", S), ("createdAt", S),
        ("attendanceColumn", pa.struct([("startDate", S), ("endDate", S)]))),
    "scores": _schema(
        ("evaluationId", S), ("studentId", S), ("score", S), ("scorerId", S),
        ("markedAt", S), ("structurePath", S), ("idCard", S)),
    "applicants": _schema(
        ("applicantId", S), ("userKey", S), ("idCard", S), ("enrollToSubject", S),
        ("enrollToDetail", pa.struct([("shift", S), ("choice", I)])),
        ("lastProfile", pa.struct([("firstName", S), ("lastName", S)])),
        ("applicantStatus", S), ("source", S), ("admissionFlow", S),
        ("confirmTarget", S), ("waitApplicantConfirm", S), ("updatedAt", S),
        ("createdAt", S), ("toNotifyApplicant", B), ("schoolId", S),
        ("userId", S), ("enrollToId", S)),
    "student": _schema(
        ("uniqueKey", S), ("studentId", S), ("firstName", S), ("lastName", S),
        ("firstNameNative", S), ("lastNameNative", S), ("dob", DATE),
        ("gender", S), ("idCard", S), ("program", S), ("remark", S),
        ("profile", pa.struct([("bio", S),
                               ("profile", pa.struct([("note", S)]))])),
        ("noAttendance", B), ("status", S), ("finalAcademicStatus", S),
        ("enrolledAt", TS), ("createdAt", TS), ("updatedAt", TS),
        ("schoolId", S), ("campusId", S), ("structureRecordId", S)),
    "structure_record": _schema(
        ("schoolId", S), ("campusId", S), ("groupStructureId", S),
        ("structureRecordId", S), ("name", S), ("nameNative", S), ("code", S),
        ("enrollableCategory", S), ("recordType", S), ("tags", S),
        ("isPromoted", B), ("isFeatured", B), ("isPublic", B), ("isOpen", B),
        ("startDate", DATE), ("endDate", DATE), ("archiveStatus", BY),
        ("status", S), ("responsibleBy", S), ("structureType", S),
        ("createdAt", TS), ("updatedAt", TS)),
    "subject": _schema(
        ("schoolId", S), ("campusId", S), ("groupStructureId", S),
        ("structureRecordId", S), ("subjectId", S), ("curriculumId", S),
        ("name", S), ("nameNative", S), ("description", S), ("credit", D),
        ("code", S), ("practiceHour", BY), ("theoryHour", BY),
        ("fieldHour", BY), ("totalHour", BY), ("archiveStatus", BY),
        ("lmsCourseId", S), ("coe", D), ("createdAt", TS), ("updatedAt", TS)),
    "guardian": _schema(
        ("guardianId", S), ("schoolId", S), ("firstName", S), ("lastName", S),
        ("firstNameNative", S), ("lastNameNative", S), ("gender", S),
        ("dob", DATE), ("phone", S), ("email", S), ("address", S),
        ("photo", S), ("createdAt", TS), ("updatedAt", TS),
        ("archiveStatus", BY), ("userName", S)),
    "teacher": _schema(
        ("teacherId", I), ("schoolId", S), ("campusId", S),
        ("groupStructureId", S), ("structureRecordId", S), ("subjectId", S),
        ("employeeId", S), ("firstName", S), ("lastName", S),
        ("firstNameNative", S), ("lastNameNative", S), ("idCard", S),
        ("gender", S), ("email", S), ("phone", S), ("position", S),
        ("department", S), ("archiveStatus", BY), ("createdAt", TS),
        ("updatedAt", TS)),
    "school": _schema(
        ("schoolId", S), ("name", S), ("code", S), ("url", S), ("email", S),
        ("address", S), ("logo", S), ("status", S), ("province", S),
        ("country", S), ("createdAt", TS), ("updatedAt", TS)),
    "campus": _schema(
        ("schoolId", S), ("campusId", S), ("name", S), ("nameNative", S),
        ("code", S), ("phone", S), ("email", S), ("address", S), ("isHq", B),
        ("archiveStatus", BY), ("status", S), ("responsibleBy", S),
        ("structureType", S), ("createdAt", TS), ("updatedAt", TS)),
    "group_structure": _schema(
        ("schoolId", S), ("campusId", S), ("groupStructureId", S), ("name", S),
        ("nameNative", S), ("code", S), ("archiveStatus", BY), ("status", S),
        ("responsibleBy", S), ("structureType", S), ("createdAt", TS),
        ("updatedAt", TS)),
}

PROVINCES = ["Phnom Penh", "Siem Reap", "Battambang", "Kampot"]
SUBJECTS = ["Math", "Khmer", "English", "Physics", "Chemistry", "Biology",
            "History", "Geography", "Art"]
CUSTOMS = ["Quiz", "Homework", "Project", "Oral", "Lab"]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
FIRST = ["Dara", "Sokha", "Vanna", "Rithy", "Chenda", "Bopha", "Kosal",
         "Sreymom", "Piseth", "Malis"]
LAST = ["Chan", "Sok", "Kim", "Heng", "Lim", "Meas", "Phan", "Seng"]
GENDERS = ["Male", "M", "f", "FEMALE", "nonbinary", "male", "female", None]
HISTORY_START = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
DAY_ONE = int(dt.datetime(2024, 9, 1, tzinfo=dt.timezone.utc).timestamp())
DAY_S = 86400


class SchoolGen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.rows = {t: [] for t in SCHEMAS}
        self.evals = {}  # structure record -> [(id, type)]
        self.students = []  # (key, id, record, idCard)
        self.guardians, self.teachers = [], []
        self.applicants = 0
        self._organisation()
        self._evaluation_trees()
        for _ in range(len(self.records) * STUDENTS_PER_RECORD):
            self._new_student(0)
        for s in self.students[: len(self.students) // 10]:
            self._student_row(s, 0)  # multi-version keys in the history (D1)
        for _ in range(len(self.students) // 2):
            self._new_guardian(0)
        for _ in range(len(self.records) * 2):
            self._new_teacher(0)
        for _ in range(len(self.students) // 4):
            self._new_applicant(0)
        self.scorers = [self._uuid() for _ in range(12)]
        for s in list(self.students):
            self._scores(s, 0, 0.5)
        for k in range(1, DAYS + 1):
            self._day(k)

    # ---- helpers -----------------------------------------------------------
    def _uuid(self):
        return str(uuid.UUID(int=self.rng.getrandbits(128)))

    def _pick(self, xs):
        return xs[self.rng.randrange(len(xs))]

    def _chance(self, p):
        return self.rng.random() < p

    def _ts(self, k):
        """A whole-second instant inside slice k's window."""
        lo, width = (HISTORY_START, DAY_ONE - HISTORY_START - 1) if k == 0 \
            else (DAY_ONE + (k - 1) * DAY_S, DAY_S - 1)
        return dt.datetime.fromtimestamp(lo + 1 + self.rng.randrange(width),
                                         dt.timezone.utc)

    def _iso(self, t):
        s = t.strftime("%Y-%m-%dT%H:%M:%SZ")
        return s[:-1] + ".123Z" if self._chance(0.2) else s

    def _emit(self, table, k, *values):
        self.rows[table].append((k, values))

    # ---- organisation: schools -> campuses -> groups -> records ------------
    def _school_row(self, sid, n, k):
        t = self._ts(k)
        self._emit("school", k, sid, f"School {n}", f"SCH{n}",
                   f"https://school{n}.example",
                   f"office@school{n}.example" if self._chance(0.5) else None,
                   f"{n} Main St", None, "active", self._pick(PROVINCES), "KH",
                   t - dt.timedelta(days=1), t)

    def _subject_row(self, rec, sub, k):
        t = self._ts(k)
        name = self._pick(SUBJECTS)
        self._emit("subject", k, rec[0], rec[1], rec[2], rec[3], sub, None, name,
                   f"{name} (kh)", None, float(1 + self.rng.randrange(4)),
                   f"{name[:3].upper()}{self.rng.randrange(100)}", 2, 2, 0, 4, 0,
                   None, None if self._chance(0.5) else float(1 + self.rng.randrange(3)),
                   t - dt.timedelta(days=1), t)

    def _record_row(self, rec, name, promoted, k):
        t = self._ts(k)
        self._emit("structure_record", k, rec[0], rec[1], rec[2], rec[3], name,
                   None, None, "class", "class", None, promoted, False, True,
                   True, t.date(), None, 0, "progress", None, "class", t, t)

    def _organisation(self):
        self.schools = [self._uuid() for _ in range(4)]
        self.records = []  # (school, campus, group, record, [subject, subject])
        for i, sch in enumerate(self.schools):
            self._school_row(sch, i, 0)
            for c in range(2):
                cam = self._uuid()
                self._emit("campus", 0, sch, cam, f"Campus {i}.{c}", None,
                           f"C{i}{c}", None, None, None, c == 0, 0, "progress",
                           None, "campus", self._ts(0), self._ts(0))
                for g in range(2):
                    gs = self._uuid()
                    self._emit("group_structure", 0, sch, cam, gs,
                               f"Grade {g + 7}", None, None, 0, "progress",
                               None, "group", self._ts(0), self._ts(0))
                    for r in range(3):
                        rec = (sch, cam, gs, self._uuid(), [])
                        self._record_row(rec, f"Class {g + 7}{'ABC'[r]}", r == 0, 0)
                        # two subjects share every record: the J3 pair
                        for _ in range(2):
                            sub = self._uuid()
                            self._subject_row(rec, sub, 0)
                            rec[4].append(sub)
                        self.records.append(rec)

    # ---- evaluation trees: semester -> 2 months -> 3 subjects -> customs ---
    def _eval_row(self, rec, parent, typ, name, max_score, coe, ref, k):
        eid = self._uuid()
        t = self._ts(k)
        created = f"datetime.date@version=2({t.date()})" if self._chance(0.1) \
            else self._iso(t)
        attendance = {"startDate": self._iso(t),
                      "endDate": self._iso(t + dt.timedelta(days=30))} \
            if typ == "month" else None
        self._emit("evaluations", k, eid, parent, typ, name, None,
                   None if self._chance(0.3) else self.rng.randrange(10),
                   max_score, coe, rec[0], rec[1], rec[2],
                   f"{rec[2]}#{rec[3]}#{rec[1]}", "tpl-" + rec[0][:8],
                   "cfg-" + rec[0][:8], ref, created, attendance)
        self.evals.setdefault(rec[3], []).append((eid, typ, rec))
        return eid

    def _custom_row(self, rec, subject_eval, k):
        coe = None if self._chance(0.2) else 0.0 if self._chance(0.1) \
            else float(1 + self.rng.randrange(3))
        max_score = None if self._chance(0.15) else self._pick([10.0, 20.0, 50.0])
        self._eval_row(rec, subject_eval, "custom", self._pick(CUSTOMS),
                       max_score, coe, None, k)

    def _evaluation_trees(self):
        for rec in self.records:
            sem = self._eval_row(rec, "na", "semester", "Semester 1", 100.0, 1.0, None, 0)
            for m in range(2):
                month = self._eval_row(rec, sem, "month", self._pick(MONTHS),
                                       100.0, 1.0, None, 0)
                for s in range(3):
                    max_score = 0.0 if m == 0 and s == 0 else \
                        None if self._chance(0.1) else self._pick([50.0, 100.0])
                    sub = self._eval_row(rec, month, "subject", self._pick(SUBJECTS),
                                         max_score, 1.0, rec[4][s % 2], 0)
                    for _ in range(self.rng.randrange(4)):
                        self._custom_row(rec, sub, 0)

    # ---- people ---------------------------------------------------------------
    def _student_row(self, s, k):
        key, sid, rec, card = s
        t = self._ts(k)
        dob = None if self._chance(0.1) else dt.date(
            2010 + self.rng.randrange(5), 1 + self.rng.randrange(9),
            10 + self.rng.randrange(9))
        self._emit("student", k, key, sid, self._pick(FIRST), self._pick(LAST),
                   None if self._chance(0.5) else self._pick(FIRST) + " (kh)", None,
                   dob, self._pick(GENDERS), card,
                   self._pick(["general", "science", None]), None,
                   {"bio": f"bio {self.rng.randrange(1000)}",
                    "profile": {"note": f"legacy {self.rng.randrange(10)}"}},
                   self._chance(0.05), "start", "start",
                   t - dt.timedelta(days=1), t - dt.timedelta(days=2), t,
                   rec[0], rec[1], rec[3])

    def _new_student(self, k):
        s = (self._uuid(), self._uuid(), self._pick(self.records),
             f"ID{self.rng.randrange(1000000):06d}")
        self.students.append(s)
        self._student_row(s, k)

    def _teacher_row(self, tid, k):
        rec = self._pick(self.records)
        t = self._ts(k)
        employee = f"EMP-{self.rng.randrange(100000):05d}" if self._chance(0.3) \
            else self._uuid()
        self._emit("teacher", k, tid, rec[0], rec[1], rec[2], rec[3],
                   self._pick(rec[4]), employee, self._pick(FIRST),
                   self._pick(LAST), None, None,
                   None if self._chance(0.5) else f"T{self.rng.randrange(100000):05d}",
                   self._pick(GENDERS), None, None,
                   self._pick(["teacher", "head", None]), None, 0,
                   t - dt.timedelta(days=1), t)

    def _new_teacher(self, k):
        tid = len(self.teachers) + 1
        self.teachers.append(tid)
        self._teacher_row(tid, k)

    def _guardian_row(self, gid, k):
        t = self._ts(k)
        self._emit("guardian", k, gid, self._pick(self.schools), self._pick(FIRST),
                   self._pick(LAST), None, None, self._pick(GENDERS), None,
                   f"0{self.rng.randrange(100000000):08d}", None, None, None,
                   t - dt.timedelta(days=1), t, 0, None)

    def _new_guardian(self, k):
        gid = self._uuid()
        self.guardians.append(gid)
        self._guardian_row(gid, k)

    def _new_applicant(self, k):
        t = self._ts(k)
        self.applicants += 1
        self._emit("applicants", k, self._uuid(),
                   self._uuid() if self._chance(0.5) else None, None,
                   self._pick(SUBJECTS),
                   {"shift": self._pick(["morning", "evening"]),
                    "choice": self.rng.randrange(3)},
                   {"firstName": self._pick(FIRST), "lastName": self._pick(LAST)},
                   None if self._chance(0.3) else self._pick(["pending", "accepted", "rejected"]),
                   self._pick(["web", "agent", None]), "default", None, None,
                   self._iso(t), self._iso(t - dt.timedelta(days=1)),
                   None if self._chance(0.5) else self._chance(0.5),
                   self._pick(self.schools),
                   self._uuid() if self._chance(0.5) else None, self._uuid())

    # ---- scores: direct and custom, with the section 2 edge cases ---------
    def _scores(self, s, k, share):
        _, sid, rec, card = s
        for eid, typ, erec in self.evals.get(rec[3], []):
            if typ not in ("subject", "custom") or not self._chance(share):
                continue
            for _ in range(1 + self.rng.randrange(2)):
                t = self._ts(k)
                score = None if self._chance(0.05) else "abc" if self._chance(0.04) \
                    else "95.5" if self._chance(0.05) else str(self.rng.randrange(101))
                path = f"{erec[2]}#undefined" if self._chance(0.02) else \
                    erec[2] if self._chance(0.02) else f"{erec[2]}#{erec[3]}#{erec[1]}"
                self._emit("scores", k, eid, sid, score, self._pick(self.scorers),
                           self._iso(t), path, card)

    # ---- a day: new rows plus a fixed share of new versions ---------------
    def _versions(self, fresh):
        return max(1, round(fresh * UPDATE_SHARE / (1 - UPDATE_SHARE)))

    def _day(self, k):
        old = list(self.students)
        fresh = max(1, len(old) // 20)
        for _ in range(fresh):
            self._new_student(k)
        for _ in range(self._versions(fresh)):
            self._student_row(self._pick(old), k)
        old = list(self.guardians)
        fresh = max(1, len(old) // 20)
        for _ in range(fresh):
            self._new_guardian(k)
        for _ in range(self._versions(fresh)):
            self._guardian_row(self._pick(old), k)
        old = list(self.teachers)
        fresh = max(1, len(old) // 20)
        for _ in range(fresh):
            self._new_teacher(k)
        for _ in range(self._versions(fresh)):
            self._teacher_row(self._pick(old), k)
        for _ in range(max(1, self.applicants // 20)):
            self._new_applicant(k)
        i = self.rng.randrange(len(self.schools))
        self._school_row(self.schools[i], i, k)
        for _ in range(3):
            rec = self._pick(self.records)
            self._record_row(rec, f"Class renamed {k}", False, k)
            self._subject_row(rec, self._pick(rec[4]), k)
        for _ in range(len(self.records) // 4):
            rec = self._pick(self.records)
            subjects = [e for e in self.evals[rec[3]] if e[1] == "subject"]
            self._custom_row(rec, self._pick(subjects)[0], k)
        for s in list(self.students):
            self._scores(s, k, 0.15)

    # ---- output ---------------------------------------------------------------
    def manifest(self):
        return {
            "days": DAYS,
            "schools": sorted(self.schools),
            "key_counts": {
                "student": len({s[0] for s in self.students}),
                "guardian": len(self.guardians),
                "teacher": len(self.teachers),
                "school": len(self.schools),
                "subject": sum(len(r[4]) for r in self.records),
                "applicant": self.applicants,
                "campus": len(self.schools) * 2,
                "group_structure": len(self.schools) * 4,
                "structure_record": len(self.records)}}

    def write(self, out):
        for table, schema in SCHEMAS.items():
            by_slice = {}
            for k, values in self.rows[table]:
                by_slice.setdefault(k, []).append(values)
            for k, rows in sorted(by_slice.items()):
                cols = list(zip(*rows))
                arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)]
                d = os.path.join(out, table, f"slice={k}")
                os.makedirs(d, exist_ok=True)
                pq.write_table(pa.Table.from_arrays(arrays, schema=schema),
                               os.path.join(d, "part-0.parquet"))
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump(self.manifest(), f, indent=1, sort_keys=True)


def write(out, seed):
    SchoolGen(seed).write(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    write(a.out, a.seed)


if __name__ == "__main__":
    main()
