"""Seeded IVPK-IRS-shaped source for the ``harvest`` workload.

Everything here is plain Python and a pure function of the seed: the five
source tables, each cycle's edits, and the counts and catalog digest a
correct harvest must produce. The source carries the reference's edge
cases:

- datasets whose ``USER_ID`` / ``istaiga_id`` point at rows that do not
  exist (the pipeline falls back to "Unknown User" / "unknown");
- unpublished datasets (``STATUSAS='P'``), which never reach the catalog;
- keyword lists with Lithuanian diacritics, ``;`` separators, a leading
  zero-width space and the one-letter ``"e"`` tag the pipeline rejects.
"""

from __future__ import annotations

import random
import zlib
from dataclasses import dataclass

N_USERS = 2000
N_ORGS = 1000
# a 3-level category tree: 12 roots, 48 second-level, 240 leaves
TREE_LEVELS = ((1, 12), (13, 60), (61, 300))
MISSING_FK_SHARE = 0.03
UNPUBLISHED_SHARE = 0.10
# per delta cycle, as shares of the dataset count
NEW_ROW_SHARE = 0.01
TITLE_EDIT_SHARE = 0.02
UNPUBLISH_SHARE = 0.005

ZWSP = "​"

_WORDS = (
    "šiluma vandens keliai eismo intensyvumas gyventojų sąrašas įmonių "
    "licencijos žemės ūkio miškų švietimo sveikatos kultūros paveldo "
    "teritorija statistika biudžeto išlaidos rodikliai aplinkos oro kokybė "
    "energetikos transporto registras savivaldybių mokyklų ligoninių gatvių "
    "pastatų užimtumas nedarbo atliekų tvarkymas elektros dujų kainos"
).split()
_FIRST = "Jonas Tomas Rūta Aušra Žygimantas Gintarė Šarūnas Eglė Mindaugas Dalia".split()
_LAST = "Jonaitis Tomauskas Kazlauskienė Petraitytė Žukauskas Šimkus Balčiūnas Butkutė".split()
_ORG_KIND = "ministerija departamentas savivaldybė agentūra inspekcija tarnyba".split()
_CITY = "Vilnius Kaunas Klaipėda Šiauliai Panevėžys Alytus".split()

# Spark DDL schemas of the five tables (column names as in the reference)
SCHEMAS = {
    "user": "ID int, LOGIN string, PASS string, EMAIL string, "
            "FIRST_NAME string, LAST_NAME string",
    "istaiga": "ID int, PAVADINIMAS string, KODAS string, ADRESAS string",
    "rinkmena": "ID int, PAVADINIMAS string, SANTRAUKA string, "
                "TINKLAPIS string, R_ZODZIAI string, K_EMAIL string, "
                "STATUSAS string, USER_ID int, istaiga_id int, KODAS string",
    "kategorija": "ID int, PAVADINIMAS string, KATEGORIJA_ID int, LYGIS int",
    "kategorija_rinkmena": "ID int, KATEGORIJA_ID int, RINKMENA_ID int",
}

_TITLE, _STATUS = 1, 6  # column positions in a rinkmena row


@dataclass
class Delta:
    """One cycle's source edits and the package sync it must cause."""

    cycle: int
    new_rows: list[tuple]
    new_links: list[tuple]
    # ID -> (title, status) for rows whose title or status changes
    edits: dict[int, tuple[str, str]]
    expected: dict[str, int]


def _fk(rng: random.Random, n: int) -> int:
    if rng.random() < MISSING_FK_SHARE:
        return rng.randint(n + 1, n + 100)
    return rng.randint(1, n)


def _keywords(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.05:
        return ""
    tags = rng.sample(_WORDS, rng.randint(1, 5))
    if r < 0.15:
        tags.insert(rng.randrange(len(tags) + 1), '"e"')
    text = (";" if rng.random() < 0.1 else ",").join(
        f" {t} " if rng.random() < 0.1 else t for t in tags
    )
    return ZWSP + text if rng.random() < 0.05 else text


class HarvestSource:
    """The source tables as Python rows, plus the model of every later
    cycle. ``delta(c)`` advances the model; call it for c = 1, 2, ..."""

    def __init__(self, seed: int, n_datasets: int):
        self.seed = seed
        self.n_datasets = n_datasets
        rng = random.Random(f"harvest:{seed}")
        self.tables: dict[str, list[tuple]] = {
            "user": [
                (i, f"{f}.{l}.{i}", "secret123", f"vartotojas{i}@testas.lt", f, l)
                for i in range(1, N_USERS + 1)
                for f, l in [(rng.choice(_FIRST), rng.choice(_LAST))]
            ],
            "istaiga": [
                (
                    i,
                    f"{rng.choice(_CITY)} {rng.choice(_WORDS)} "
                    f"{rng.choice(_ORG_KIND)} nr. {i}",
                    str(190_000_000 + i),
                    f"{rng.choice(_WORDS).capitalize()} g. {rng.randint(1, 99)}, "
                    f"{rng.choice(_CITY)}",
                )
                for i in range(1, N_ORGS + 1)
            ],
            "kategorija": [
                (
                    i,
                    f"{rng.choice(_WORDS).capitalize()} {rng.choice(_WORDS)}",
                    0 if level == 1 else rng.randint(*TREE_LEVELS[level - 2]),
                    level,
                )
                for level, (lo, hi) in enumerate(TREE_LEVELS, start=1)
                for i in range(lo, hi + 1)
            ],
        }
        self.base_title: dict[int, str] = {}
        self.rows: dict[int, list] = {}
        self.links: list[tuple] = []
        rows, links = self._new_datasets(rng, 1, n_datasets, UNPUBLISHED_SHARE)
        self.tables["rinkmena"] = rows
        self.tables["kategorija_rinkmena"] = links

    def _new_datasets(self, rng, first_id, n, unpublished_share):
        rows, links = [], []
        n_cat = TREE_LEVELS[-1][1]
        for i in range(first_id, first_id + n):
            words = rng.sample(_WORDS, rng.randint(2, 7))
            title = f"{' '.join(words).capitalize()} nr. {i}"
            row = [
                i,
                title,
                " ".join(rng.choices(_WORDS, k=rng.randint(4, 12))).capitalize() + ".",
                f"http://duomenys{i}.lt",
                _keywords(rng),
                f"kontaktas{i}@testas.lt",
                "P" if rng.random() < unpublished_share else "U",
                _fk(rng, N_USERS),
                _fk(rng, N_ORGS),
                None if rng.random() < 0.3 else f"kodas-{i}",
            ]
            self.base_title[i] = title
            self.rows[i] = row
            rows.append(tuple(row))
            for cat in rng.sample(range(1, n_cat + 1), rng.randint(0, 3)):
                links.append((len(self.links) + 1, cat, i))
                self.links.append(links[-1])
        return rows, links

    @property
    def max_id(self) -> int:
        return max(self.rows)

    def published(self) -> list[int]:
        return sorted(i for i, r in self.rows.items() if r[_STATUS] == "U")

    def delta(self, cycle: int) -> Delta:
        """New rows, title edits and unpublished rows for ``cycle``; edits
        and unpublishes pick disjoint rows that are published before the
        cycle, so each causes exactly one update or one delete."""
        rng = random.Random(f"harvest:{self.seed}:{cycle}")
        published = self.published()
        n_edit = round(len(published) * TITLE_EDIT_SHARE)
        n_unpub = round(len(published) * UNPUBLISH_SHARE)
        picked = rng.sample(published, n_edit + n_unpub)
        edits = {}
        for i in picked[:n_edit]:
            edits[i] = (f"{self.base_title[i]} (redakcija {cycle})", "U")
        for i in picked[n_edit:]:
            edits[i] = (self.rows[i][_TITLE], "P")
        for i, (title, status) in edits.items():
            self.rows[i][_TITLE], self.rows[i][_STATUS] = title, status
        new_rows, new_links = self._new_datasets(
            rng,
            self.max_id + 1,
            round(self.n_datasets * NEW_ROW_SHARE),
            UNPUBLISHED_SHARE,
        )
        expected = {
            "create": sum(r[_STATUS] == "U" for r in new_rows),
            "update": n_edit,
            "delete": n_unpub,
        }
        return Delta(cycle, new_rows, new_links, edits, expected)

    def catalog_digest(self) -> tuple[int, int]:
        """(package count, sum of crc32('id|title')) over published rows —
        the same digest the benchmark computes in Spark from the exported
        catalog."""
        ids = self.published()
        return len(ids), sum(
            zlib.crc32(f"{i}|{self.rows[i][_TITLE]}".encode()) for i in ids
        )
