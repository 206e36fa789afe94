"""Seeded Apache Combined Log Format corpus with its own ground truth.

Written from the CLF definition, not from the program: nothing here
imports the package under test, so a parser bug cannot leak into the
truth the benchmark checks against.

Shape of a generated file:
  * users are Zipf-skewed over a fixed population, and about one line in
    seven has the anonymous ``-`` user;
  * timestamps carry mixed ``±zzzz`` offsets;
  * a requested share of lines is malformed (truncated inside the last
    quoted field, or not a log line at all), so no CLF parser can read them.

Truth per file: per-user request counts (anonymous and malformed lines
excluded), distinct users, status-200 count, malformed-line count, and
per-UTC-hour event and error (status >= 500) counts of the well-formed
lines.
"""

from __future__ import annotations

import collections
import dataclasses
import datetime as dt
import random

MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
#: Offsets in minutes east of UTC; several cross a day boundary.
OFFSETS_MIN = (0, 60, 120, -300, 330, -480, 585, -210, 765, -600)
STATUSES = (200, 200, 200, 200, 200, 200, 200, 304, 301, 404, 401, 500, 503)
METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE")
RESOURCES = ("/", "/index.html", "/api/v1/login", "/api/v1/items",
             "/img/logo.png", "/static/app.js", "/cart", "/search?q=spark")
REFERERS = ("-", "https://example.com/", "https://example.com/index.html",
            "https://search.example.org/?q=logs")
AGENTS = ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
          "Mozilla/5.0 (Windows NT 10.0; Win64; x64)",
          "curl/8.4.0", "python-requests/2.31")
ANON_SHARE = 1 / 7
ZIPF_S = 1.1


@dataclasses.dataclass
class Truth:
    """What a correct ingest of some lines must report."""

    lines: int = 0
    malformed: int = 0
    status_200: int = 0
    per_user: collections.Counter = dataclasses.field(
        default_factory=collections.Counter
    )
    #: UTC hour (naive datetime) -> [events, errors]
    hourly: dict = dataclasses.field(default_factory=dict)

    @property
    def distinct_users(self) -> int:
        return len(self.per_user)

    def add(self, other: "Truth") -> None:
        self.lines += other.lines
        self.malformed += other.malformed
        self.status_200 += other.status_200
        self.per_user.update(other.per_user)
        for hour, (ev, er) in other.hourly.items():
            cur = self.hourly.setdefault(hour, [0, 0])
            cur[0] += ev
            cur[1] += er


class UserPopulation:
    """Zipf-skewed user ids: rank k is drawn with weight 1/k**s, and ranks
    map to ids through a seeded shuffle so hot users are not the low ids."""

    def __init__(self, rng: random.Random, n_users: int):
        ids = list(range(1000, 1000 + n_users))
        rng.shuffle(ids)
        self.ids = ids
        weights = [1.0 / (k ** ZIPF_S) for k in range(1, n_users + 1)]
        total = 0.0
        self.cum = []
        for w in weights:
            total += w
            self.cum.append(total)

    def draw(self, rng: random.Random, n: int) -> list[int]:
        return rng.choices(self.ids, cum_weights=self.cum, k=n)


def _clf_time(local: dt.datetime, offset_min: int) -> str:
    sign = "+" if offset_min >= 0 else "-"
    hh, mm = divmod(abs(offset_min), 60)
    return (f"{local.day:02d}/{MONTHS[local.month - 1]}/{local.year:04d}:"
            f"{local.hour:02d}:{local.minute:02d}:{local.second:02d} "
            f"{sign}{hh:02d}{mm:02d}")


def generate_lines(
    rng: random.Random,
    users: UserPopulation,
    start_utc: dt.datetime,
    span_s: int,
    n_lines: int,
    malformed_share: float = 0.0,
) -> tuple[list[str], Truth]:
    """``n_lines`` CLF lines whose UTC instants fall in
    ``[start_utc, start_utc + span_s)``, plus their truth."""
    truth = Truth(lines=n_lines)
    user_draws = users.draw(rng, n_lines)
    out = []
    for i in range(n_lines):
        utc = start_utc + dt.timedelta(seconds=rng.randrange(span_s))
        offset = rng.choice(OFFSETS_MIN)
        local = utc + dt.timedelta(minutes=offset)
        status = rng.choice(STATUSES)
        anon = rng.random() < ANON_SHARE
        user = None if anon else user_draws[i]
        size = "-" if status == 304 else str(rng.randrange(100, 60_000))
        ip = (f"{rng.randrange(1, 224)}.{rng.randrange(256)}."
              f"{rng.randrange(256)}.{rng.randrange(1, 255)}")
        line = (
            f'{ip} - {"-" if user is None else user} '
            f"[{_clf_time(local, offset)}] "
            f'"{rng.choice(METHODS)} {rng.choice(RESOURCES)} HTTP/1.1" '
            f'{status} {size} "{rng.choice(REFERERS)}" "{rng.choice(AGENTS)}"'
        )
        if malformed_share and rng.random() < malformed_share:
            truth.malformed += 1
            if rng.random() < 0.5:
                # cut inside the user-agent text: no closing quote remains
                ua_open = line.rindex('"', 0, len(line) - 1) + 1
                line = line[: rng.randrange(ua_open + 1, len(line) - 1)]
            else:
                line = f"corrupted entry {rng.getrandbits(48):012x}"
            out.append(line)
            continue
        out.append(line)
        if status == 200:
            truth.status_200 += 1
        if user is not None:
            truth.per_user[user] += 1
        hour = utc.replace(minute=0, second=0, microsecond=0)
        cell = truth.hourly.setdefault(hour, [0, 0])
        cell[0] += 1
        cell[1] += status >= 500
    return out, truth


def write_log(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="ascii") as fh:
        fh.write("\n".join(lines) + "\n")
