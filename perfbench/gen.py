"""Seeded two-view omics TSV generator for the benchmark workloads.

Writes the reference's input format: one features x samples matrix per
view, tab-separated, header ``feature<TAB><sample ids>``, one feature
per row. Sample ids are ``<class>.S<nnnn>`` so the pipelines derive
labels from the id prefix. Values are 2-decimal fixed point, which
every reader parses to the same double.

Class signal is planted the way the reference simulates its groups
(``groups`` x ``prop_diff``): every class shifts the mean of its own
``prop_diff`` share of each view's features, so a working classifier
scores well above chance and a broken one shows. The shift per feature
is ``separation / sqrt(n_shifted)``, so the class separation, and the
accuracy a classifier reaches, stays about the same at every width
instead of saturating at 1.0 on wide views.
"""

from __future__ import annotations

import os

import numpy as np


def class_sizes(n_samples: int, n_classes: int) -> list[int]:
    """Near-equal class sizes, the larger classes first."""
    base, extra = divmod(n_samples, n_classes)
    return [base + (1 if c < extra else 0) for c in range(n_classes)]


def write_views(
    out_dir: str,
    seed: int,
    n_samples: int,
    d1: int,
    d2: int,
    n_classes: int = 3,
    prop_diff: float = 0.2,
    separation: float = 3.0,
) -> tuple[str, str]:
    """Write ``gene.tsv`` and ``mirna.tsv`` under ``out_dir`` and return
    their paths. The same arguments give byte-identical files."""
    rng = np.random.default_rng(seed)
    labels = np.repeat(
        np.arange(n_classes), class_sizes(n_samples, n_classes)
    )
    rng.shuffle(labels)
    names = [chr(ord("a") + c) * 3 for c in range(n_classes)]
    sample_ids = [f"{names[c]}.S{j:04d}" for j, c in enumerate(labels)]
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for fname, prefix, d in (("gene.tsv", "g", d1), ("mirna.tsv", "m", d2)):
        values = rng.standard_normal((d, n_samples))
        n_diff = max(1, int(round(prop_diff * d)))
        shift = separation / np.sqrt(n_diff)
        for c in range(n_classes):
            feats = rng.choice(d, size=n_diff, replace=False)
            values[np.ix_(feats, labels == c)] += shift
        path = os.path.join(out_dir, fname)
        _write_matrix(path, prefix, sample_ids, values)
        paths.append(path)
    return paths[0], paths[1]


# Cells are written as integer hundredths looked up in a table of
# their fixed-point strings: exact, and far faster than formatting
# every cell. Values are clipped to +-99.99.
_MAX_CENTS = 9999
_CELL_TEXT = np.array(
    [f"{c / 100:.2f}" for c in range(-_MAX_CENTS, _MAX_CENTS + 1)], dtype=object
)


def _write_matrix(path: str, prefix: str, sample_ids: list[str], values: np.ndarray) -> None:
    cents = np.clip(np.rint(values * 100).astype(np.int64), -_MAX_CENTS, _MAX_CENTS)
    cells = _CELL_TEXT[cents + _MAX_CENTS]
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("feature\t" + "\t".join(sample_ids) + "\n")
        fh.writelines(
            f"{prefix}{i}\t" + "\t".join(row) + "\n" for i, row in enumerate(cells)
        )
    os.replace(tmp, path)
