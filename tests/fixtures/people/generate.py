"""Regenerate the synthetic ``people`` fixture (FIXTURES.md §A): three
CSV partitions ``people.NN.csv``, each one header row plus 100 rows of
``full_name,first_name,last_name,age``, with a ``people.NN.meta``
sidecar ``{"n_records": 100}``. Deterministic (seed 42).

    python tests/fixtures/people/generate.py
"""

from __future__ import annotations

import json
import os
import random

FIRST = ["Ada", "Bela", "Chen", "Dara", "Emil", "Fatima", "Goran", "Hana",
         "Ivo", "Jun", "Kemal", "Lior", "Mira", "Nanine", "Oskar", "Priya"]
LAST = ["Abbott", "Brandt", "Castro", "Dunn", "Eriksen", "Fournier", "Gallo",
        "Horvat", "Ito", "Jensen", "Kowal", "Lamont", "Moreau", "Novak"]


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    rng = random.Random(42)
    for p in range(3):
        stem = os.path.join(here, f"people.{p:02d}")
        with open(f"{stem}.csv", "w") as f:
            f.write("full_name,first_name,last_name,age\n")
            for _ in range(100):
                first, last = rng.choice(FIRST), rng.choice(LAST)
                f.write(f"{first} {last},{first},{last},{rng.randrange(18, 80)}\n")
        with open(f"{stem}.meta", "w") as m:
            json.dump({"n_records": 100}, m)


if __name__ == "__main__":
    main()
