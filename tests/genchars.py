"""Seeded random char/edge generators for differential tests, and the
hypothesis strategy of adversarial char dicts (``char_dicts``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import strategies as st

CHAR_COLS = [
    "text", "fontname", "size", "adv", "upright",
    "x0", "x1", "top", "bottom", "doctop", "width", "height",
]

ALPHABET = list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJ0123456789")
PUNCT = list(".,;:!?()-")
LIG = ["ﬁ", "ﬂ", "ﬀ"]


def random_chars(
    rng: np.ndarray,
    n_lines: int = 8,
    max_chars: int = 40,
    blank_p: float = 0.12,
    punct_p: float = 0.06,
    lig_p: float = 0.02,
    rotated_p: float = 0.0,
    jitter: float = 0.4,
    page_top: float = 72.0,
    doctop_offset: float = 0.0,
):
    """Generate a plausible page of chars as list-of-dicts (reference input
    order = reading order with jitter)."""
    rows = []
    y = page_top
    for _ in range(n_lines):
        n = int(rng.integers(3, max_chars))
        x = 72.0 + float(rng.uniform(0, 10))
        size = float(rng.choice([8.0, 10.0, 12.0]))
        height = size
        for _ in range(n):
            r = rng.uniform()
            if r < blank_p:
                t = " "
            elif r < blank_p + punct_p:
                t = str(rng.choice(PUNCT))
            elif r < blank_p + punct_p + lig_p:
                t = str(rng.choice(LIG))
            else:
                t = str(rng.choice(ALPHABET))
            w = size * (0.6 if t != " " else 0.3) + float(rng.uniform(-0.05, 0.05))
            gap = float(rng.choice([0.0, 0.0, 0.0, 4.0, 8.0], p=[0.55, 0.2, 0.1, 0.1, 0.05]))
            x += gap
            top = y + float(rng.uniform(-jitter, jitter))
            upright = 0 if rng.uniform() < rotated_p else 1
            rows.append(
                {
                    "text": t,
                    "fontname": "Helvetica",
                    "size": size,
                    "adv": w,
                    "upright": upright,
                    "x0": round(x, 3),
                    "x1": round(x + w, 3),
                    "top": round(top, 3),
                    "bottom": round(top + height, 3),
                    "doctop": round(top + doctop_offset, 3),
                    "width": round(w, 3),
                    "height": height,
                }
            )
            x += w
        y += size * float(rng.uniform(1.1, 1.8))
    return rows


def chars_frame(rows):
    return pd.DataFrame(rows, columns=CHAR_COLS)


def words_to_dicts(words: pd.DataFrame):
    return words.to_dict("records")


TEXTS = st.sampled_from(
    ["a", "B", "7", " ", ".", "-", "ﬁ", "", "xy", "\t", "…"]
)


@st.composite
def char_dicts(draw):
    n = draw(st.integers(1, 60))
    rows = []
    for _ in range(n):
        x0 = draw(st.floats(-50, 500, allow_nan=False, width=32))
        w = draw(st.floats(0, 30, allow_nan=False, width=32))
        top = draw(st.floats(-20, 700, allow_nan=False, width=32))
        h = draw(st.floats(0, 30, allow_nan=False, width=32))
        rows.append(
            {
                "text": draw(TEXTS),
                "fontname": draw(st.sampled_from(["F1", "F2"])),
                "size": draw(st.sampled_from([0.0, 4.0, 9.5, 12.0])),
                "adv": w,
                "upright": draw(st.sampled_from([0, 1])),
                "x0": x0,
                "x1": x0 + w,
                "top": top,
                "bottom": top + h,
                "doctop": top + draw(st.sampled_from([0.0, 792.0])),
                "width": w,
                "height": h,
            }
        )
    return rows
