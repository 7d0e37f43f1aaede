"""Seeded config tables and a CLDR keymap, built in memory from the
workload seed — nothing is downloaded or read from outside the checkout.

The tables are shaped like the reference's person-data tables: a small
joint gender/given-name table (JVM sampling path), a last-name table of
several thousand values (crosses ``jvm_max_table=1024`` onto the Arrow
``searchsorted`` path), a street table, and OCR, phonetic and regex rule
tables for the table-driven mutators.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

FEMALE = (
    "Anna Maria Lena Emma Mia Hannah Sophie Lea Laura Julia Sarah Lisa Katharina "
    "Johanna Clara Charlotte Ida Frieda Greta Paula Marie Luise Helene Martha "
    "Elisabeth Ursula Monika Sabine Petra Renate"
).split()
MALE = (
    "Paul Max Jonas Leon Felix Lukas Elias Noah Ben Finn Tim Jan Moritz Jakob "
    "Thomas Michael Andreas Stefan Peter Klaus Wolfgang Jürgen Dieter Frank "
    "Uwe Matthias Christian Markus Sebastian Tobias"
).split()

# last names are stem + ending: several thousand distinct values
LAST_STEMS = (
    "Müll Schmid Schneid Fisch Web Meyer Wagn Beck Schulz Hoff Koch Richt Klein "
    "Wolf Schröd Neu Schwarz Zimmer Braun Krüg Hof Hartm Lang Werth Kraus Lehm "
    "Schmitt Walt Köhl Maier Herrm König Kais Fuchs Peters Lang Scholz Möll Weiß "
    "Jung Hahn Schub Vogel Fried Keller Günth Frank Berg Wink Roth Beck Lorenz "
    "Baum Franke Albr Schuster Simon Ludw Böhm Wink Kraft Voigt Stein Jäg Otto "
    "Sommer Groß Seid Heinr Brandt Haas"
).split()
LAST_ENDINGS = (
    "er mann berger hardt ke ner rich ler ling ing s sen son bach feld horst "
    "mayer meier hof hofer stein berg burg dorf hausen ke l lein chen hahn "
    "wald brand hart hold mund rath schmidt bauer huber kamp "
    "ow itz el sch t ter ner ert ach au e eck ert gen hoff ig ik ke kel le ling ers"
).split()

STREET_STEMS = (
    "Haupt Bahnhof Garten Schul Kirch Dorf Berg Wald Wiesen Ring Linden Birken "
    "Eichen Buchen Tannen Mühlen Brunnen Sonnen Rosen Tulpen Goethe Schiller "
    "Mozart Beethoven Bach Kant Lessing Heine Luther Bismarck Friedrich Wilhelm "
    "Karl Ludwig Maximilian Frieden Markt Burg Schloss Kloster Feld Bach Hafen "
    "Post Industrie Kanal Fluss See Teich Park Anger Heide Moor"
).split()
STREET_SUFFIXES = ("straße", "weg", "allee", "gasse", "platz", "ring", "damm", "steig")

# classic OCR confusions (source -> target), applied inline
OCR_RULES = [
    ("m", "rn"), ("rn", "m"), ("cl", "d"), ("d", "cl"), ("ß", "B"), ("l", "1"),
    ("i", "l"), ("o", "0"), ("e", "c"), ("h", "b"), ("u", "ii"), ("n", "ri"),
    ("g", "q"), ("a", "o"), ("S", "5"), ("B", "8"),
]

# phonetic rules (source, target, flags); flags ^ start, _ middle, $ end,
# empty = anywhere
PHONETIC_RULES = [
    ("ph", "f", ""), ("f", "ph", "^"), ("th", "t", ""), ("ck", "k", "_$"),
    ("tz", "z", "_$"), ("dt", "t", "$"), ("ei", "ai", ""), ("ai", "ei", ""),
    ("ie", "i", "_"), ("sch", "sh", ""), ("v", "f", "^"), ("w", "v", "^"),
    ("mann", "man", "$"), ("er", "a", "$"), ("ss", "ß", "_$"), ("ä", "e", ""),
    ("ö", "oe", ""), ("ü", "ue", ""), ("h", "", "_"), ("z", "s", "^"),
]

# regex rules over house numbers; every rule changes the value it
# matches, so a selected, eligible row always changes
REGEX_RULES = pd.DataFrame(
    {
        "pattern": [r"^(?P<n>\d+)$", r"^(?P<a>[1-9])(?P<b>\d+)$", r"^(?P<d>\d)$"],
        "n": ["(?P<n>)a", "", ""],
        "a": ["", "", ""],
        "b": ["", "", ""],
        "d": ["", "", "0(?P<d>)"],
    }
)

# QWERTZ letter rows (ISO row letter, unshifted, shifted)
KEY_ROWS = [
    ("E", "1234567890ß", "!\"§$%&/()=?"),
    ("D", "qwertzuiopü", "QWERTZUIOPÜ"),
    ("C", "asdfghjklöä", "ASDFGHJKLÖÄ"),
    ("B", "yxcvbnm,.-", "YXCVBNM;:_"),
]


@dataclass
class Fixtures:
    given: pd.DataFrame  # gender, given, freq
    last: pd.DataFrame  # last, freq (several thousand rows)
    last_top: pd.DataFrame  # the 200 most frequent last names
    streets: pd.DataFrame  # street, freq
    ocr: pd.DataFrame  # source, target
    phonetic: pd.DataFrame  # source, target, flags
    regex: pd.DataFrame  # pattern + one column per named group
    cldr_xml: str

    @property
    def keymap_chars(self) -> set[str]:
        return {c for _, lo, hi in KEY_ROWS for c in lo + hi}


def _zipf_freqs(rng: np.random.Generator, k: int, scale: float) -> list[str]:
    ranks = rng.permutation(k) + 1
    noise = rng.uniform(0.8, 1.2, size=k)
    return [str(int(scale / r * x) + 1) for r, x in zip(ranks, noise)]


def _cldr_xml() -> str:
    def keymap(idx: int, modifiers: str | None) -> str:
        attr = f' modifiers="{modifiers}"' if modifiers else ""
        maps = []
        for row, *chars in KEY_ROWS:
            for col, ch in enumerate(chars[idx], start=1):
                esc = {"&": "&amp;", '"': "&quot;", "<": "&lt;", ">": "&gt;"}.get(ch, ch)
                maps.append(f'    <map iso="{row}{col:02d}" to="{esc}"/>')
        return f"  <keyMap{attr}>\n" + "\n".join(maps) + "\n  </keyMap>"

    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<keyboard locale="de-t-k0-bench">\n'
        f"{keymap(0, None)}\n{keymap(1, 'shift')}\n</keyboard>\n"
    )


def make_fixtures(seed: int) -> Fixtures:
    rng = np.random.default_rng(seed)

    given = pd.DataFrame(
        {
            "gender": ["f"] * len(FEMALE) + ["m"] * len(MALE),
            "given": FEMALE + MALE,
            "freq": _zipf_freqs(rng, len(FEMALE) + len(MALE), 5000.0),
        }
    )

    names = sorted({s + e for s in LAST_STEMS for e in LAST_ENDINGS})
    last = pd.DataFrame({"last": names, "freq": _zipf_freqs(rng, len(names), 200000.0)})
    last_top = (
        last.assign(_f=last["freq"].astype(int))
        .sort_values(["_f", "last"], ascending=[False, True])
        .head(200)
        .drop(columns="_f")
        .reset_index(drop=True)
    )

    streets = sorted({s + x for s in STREET_STEMS for x in STREET_SUFFIXES})
    streets_df = pd.DataFrame({"street": streets, "freq": _zipf_freqs(rng, len(streets), 3000.0)})

    return Fixtures(
        given=given,
        last=last,
        last_top=last_top,
        streets=streets_df,
        ocr=pd.DataFrame(OCR_RULES, columns=["source", "target"]),
        phonetic=pd.DataFrame(PHONETIC_RULES, columns=["source", "target", "flags"]),
        regex=REGEX_RULES.copy(),
        cldr_xml=_cldr_xml(),
    )


def write_cldr(fx: Fixtures, work: Path) -> Path:
    path = work / "keyboard.xml"
    path.write_text(fx.cldr_xml, encoding="utf-8")
    return path

