"""Seeded in-process Jira/Tempo API emulators for the ``jira_daily`` workload.

One :class:`JiraEmulator` serves the three endpoint shapes the entity
pipelines consume:

* issues: offset pages ``{"startAt", "maxResults", "total", "issues"}``
  carrying the full nested ``ISSUE_MAPPING`` record shape;
* worklogs: cursor pages ``{"results", "metadata": {"next"}}``;
* users: one bare JSON list.

Every record is a pure function of (seed, version day, id), so a day's
responses repeat exactly and the emulator can be pickled to executors
(the issues offset fan-out calls it inside ``mapInPandas``). When
``count_dir`` is set, each call appends ``<seconds> <records>`` to a
per-process file there, which the traced run sums into the
``paged_rest.*`` counters.
"""

from __future__ import annotations

import os
import time

_MASK = (1 << 64) - 1


def mix(*parts: int) -> int:
    """splitmix64 over the parts: a stable 64-bit hash of small ints."""
    h = 0x9E3779B97F4A7C15
    for p in parts:
        h = (h ^ (p & _MASK)) * 0xBF58476D1CE4E5B9 & _MASK
        h = (h ^ (h >> 31)) * 0x94D049BB133111EB & _MASK
        h ^= h >> 29
    return h


STATUSES = (("To Do", "new"), ("In Progress", "indeterminate"), ("Done", "done"))
PRIORITY_NAMES = ("Highest", "High", "Medium", "Low", "Lowest")
LABELS = ("backend", "frontend", "infra", "data", "urgent", "tech-debt")
TIMEZONES = ("UTC", "Europe/Berlin", "America/New_York", "Asia/Tokyo")
PROJECTS = ("ETL", "WEB", "OPS", "DATA")


class JiraEmulator:
    """Day-versioned Jira/Tempo endpoints.

    Day 0 holds issues ``0..n_issues-1``, worklogs ``0..n_worklogs-1``
    (served as one backfill page) and users ``0..n_users-1``. Day 1
    changes about a quarter of the issues (all issues are served
    again), edits ``wl_edits`` existing worklogs and adds ``wl_new`` new
    ones on pages of ``worklog_page``, and serves every user again with
    a new display name for every tenth user."""

    def __init__(
        self,
        seed: int,
        n_issues: int,
        n_worklogs: int,
        n_users: int,
        wl_edits: int,
        wl_new: int,
        issue_page: int = 100,
        worklog_page: int = 100,
        count_dir: str | None = None,
    ):
        self.seed = seed
        self.n_issues = n_issues
        self.n_worklogs = n_worklogs
        self.n_users = n_users
        self.wl_edits = wl_edits
        self.wl_new = wl_new
        self.issue_page = issue_page
        self.worklog_page = worklog_page
        self.count_dir = count_dir
        self.day = 0

    # ------------------------------------------------------- versions

    def issue_version(self, i: int, day: int) -> int:
        """Day of the last change to issue ``i`` as of ``day``."""
        return 1 if day >= 1 and mix(self.seed, 1, i) % 4 == 0 else 0

    def worklog_ids(self, day: int) -> list[int]:
        """Worklog ids served on ``day``, in page order."""
        if day == 0:
            return list(range(self.n_worklogs))
        stride = max(1, self.n_worklogs // max(1, self.wl_edits))
        edits = [(k * stride + mix(self.seed, 2, k) % stride) for k in range(self.wl_edits)]
        new = list(range(self.n_worklogs, self.n_worklogs + self.wl_new))
        # edits and new keys interleave across the day's pages
        out: list[int] = []
        step = max(1, len(new) // max(1, len(edits)))
        for k, e in enumerate(edits):
            out.append(e)
            out.extend(new[k * step:(k + 1) * step])
        out.extend(new[len(edits) * step:])
        return out

    def worklog_version(self, w: int, day: int) -> int:
        return day if w in self._edited(day) or w >= self.n_worklogs else 0

    def _edited(self, day: int) -> set[int]:
        if day == 0:
            return set()
        cache = self.__dict__.setdefault("_edit_cache", {})
        if day not in cache:
            cache[day] = {w for w in self.worklog_ids(day) if w < self.n_worklogs}
        return cache[day]

    # -------------------------------------------------------- records

    def _user(self, u: int, version: int) -> dict:
        h = mix(self.seed, 3, u, version)
        return {
            "self": f"https://jira.example/rest/api/3/user?accountId=acct-{u:05d}",
            "accountId": f"acct-{u:05d}",
            "accountType": "atlassian" if h % 10 else "app",
            "avatarUrls": {"48x48": f"https://avatar.example/{u}/48.png"},
            "displayName": f"User {u} v{version}",
            "active": bool(h % 7),
            "timeZone": TIMEZONES[h % len(TIMEZONES)],
        }

    def user_version(self, u: int, day: int) -> int:
        return 1 if day >= 1 and u % 10 == 0 else 0

    def issue(self, i: int, day: int) -> dict:
        v = self.issue_version(i, day)
        h = mix(self.seed, 4, i, v)
        status, cat = STATUSES[h % 3]
        proj = PROJECTS[i % len(PROJECTS)]
        resolved = status == "Done"
        person = lambda salt: self._user(mix(h, salt) % self.n_users, 0)  # noqa: E731
        return {
            "expand": "operations,versionedRepresentations,editmeta",
            "id": str(10_000 + i),
            "self": f"https://jira.example/rest/api/3/issue/{10_000 + i}",
            "key": f"{proj}-{i}",
            "fields": {
                "resolution": {
                    "self": "https://jira.example/rest/api/3/resolution/1",
                    "id": "1",
                    "description": "Work has been completed on this issue.",
                    "name": "Done",
                } if resolved else None,
                "priority": {"name": PRIORITY_NAMES[(h >> 8) % 5], "id": str((h >> 8) % 5)},
                "labels": [LABELS[(h >> (12 + 3 * k)) % len(LABELS)] for k in range((h >> 40) % 3)],
                "assignee": person(1) if (h >> 16) % 5 else None,
                "status": {
                    "self": f"https://jira.example/rest/api/3/status/{h % 3}",
                    "description": f"{status} state",
                    "name": status,
                    "statusCategory": {
                        "self": f"https://jira.example/rest/api/3/statuscategory/{h % 3}",
                        "key": cat,
                        "name": status,
                        "colorName": "blue-gray",
                    },
                },
                "creator": person(2),
                "reporter": person(3),
                "progress": {
                    "progress": (h >> 20) % 50_000,
                    "total": 50_000,
                    "percent": (h >> 20) % 100,
                },
                "timespent": (h >> 24) % 100_000 + 60 * v,
                "project": {
                    "self": f"https://jira.example/rest/api/3/project/{proj}",
                    "id": str(100 + PROJECTS.index(proj)),
                    "key": proj,
                    "name": f"Project {proj}",
                    "projectTypeKey": "software",
                    "avatarUrls": {"48x48": f"https://avatar.example/p/{proj}"},
                },
                "summary": f"Issue {i} rev {v}: fix the {LABELS[h % len(LABELS)]} pipeline",
                "customfield_10010": None,
            },
        }

    def worklog(self, w: int, day: int) -> dict:
        v = self.worklog_version(w, day)
        h = mix(self.seed, 5, w, v)
        author = mix(h, 1) % self.n_users
        issue = mix(h, 2) % self.n_issues
        return {
            "self": f"https://api.tempo.io/4/worklogs/{w}",
            "tempoWorklogId": w,
            "issue": {"self": f"https://jira.example/rest/api/3/issue/{10_000 + issue}",
                      "id": 10_000 + issue},
            "timeSpentSeconds": 900 * (1 + h % 32),
            "billableSeconds": 900 * (h % 32),
            "startDate": f"2026-{1 + (h >> 8) % 9:02d}-{1 + (h >> 12) % 28:02d}",
            "startTime": f"{(h >> 16) % 24:02d}:{(h >> 20) % 60:02d}:00",
            "description": f"Worked on issue {issue} (rev {v})",
            "createdAt": "2026-01-01T09:00:00Z",
            "updatedAt": f"2026-10-{10 + v:02d}T{(h >> 24) % 24:02d}:{(h >> 28) % 60:02d}:00Z",
            "author": {"self": f"https://jira.example/rest/api/3/user?accountId=acct-{author:05d}",
                       "accountId": f"acct-{author:05d}"},
            "attributes": {"values": []},
        }

    # ------------------------------------------------------ endpoints

    def __call__(self, url: str, params: dict | None = None):
        t0 = time.perf_counter()
        if "/worklogs" in url:
            out = self._worklogs_page(url)
            n = len(out["results"])
        elif "/users" in url:
            out = [self._user(u, self.user_version(u, self.day)) for u in range(self.n_users)]
            n = len(out)
        else:
            out = self._issues_page(params or {})
            n = len(out["issues"])
        if self.count_dir:
            with open(os.path.join(self.count_dir, f"fetch_{os.getpid()}.txt"), "a") as f:
                f.write(f"{time.perf_counter() - t0:.6f} {n}\n")
        return out

    def _issues_page(self, params: dict) -> dict:
        start = int(params.get("startAt", 0))
        stop = min(self.n_issues, start + self.issue_page)
        return {
            "expand": "schema,names",
            "startAt": start,
            "maxResults": self.issue_page,
            "total": self.n_issues,
            "issues": [self.issue(i, self.day) for i in range(start, stop)],
        }

    def _worklogs_page(self, url: str) -> dict:
        offset = int(url.rsplit("offset=", 1)[1]) if "offset=" in url else 0
        ids = self.worklog_ids(self.day)
        # day 0 is the backfill: one page holding every worklog
        size = self.worklog_page if self.day else len(ids)
        page = ids[offset:offset + size]
        out: dict = {"results": [self.worklog(w, self.day) for w in page], "metadata": {}}
        nxt = offset + size
        if nxt < len(ids):
            out["metadata"]["next"] = f"https://api.tempo.io/4/worklogs?offset={nxt}"
        return out

    # ------------------------------------------------- expected state

    def expected(self, day: int) -> dict[str, dict[str, str]]:
        """Last-writer-wins end state after days 0..day, per table:
        key -> the column the check compares."""
        issues = {
            str(10_000 + i): str(self.issue(i, day)["fields"]["timespent"])
            for i in range(self.n_issues)
        }
        n_wl = self.n_worklogs + (self.wl_new if day >= 1 else 0)
        worklogs = {str(w): self.worklog(w, day)["updatedAt"] for w in range(n_wl)}
        users = {
            f"acct-{u:05d}": self._user(u, self.user_version(u, day))["displayName"]
            for u in range(self.n_users)
        }
        return {"issues": issues, "worklogs": worklogs, "users": users}
