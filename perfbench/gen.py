"""Seeded generator of planted-signal survival inputs for the benchmark.

Writes the two files graft's experiment reads, in the reference's layout:

* a feature-major molecules TSV (one row per feature, one column per sample);
* a clinical TSV ``sample<TAB>event<TAB>time``.

Every sample belongs to a hidden group. The planted features shift with that
group and the group sets the survival time, so a feature subset that holds
planted features clusters the samples by survival. A few non-planted feature
columns carry one NaN cell each (ingest drops the column) and a few samples
carry one +/-Inf cell in a kept column (ingest drops the sample), so the
cleaning in ``SurvivalData.read`` does real work. The expected number of kept
features and samples is returned next to the planted feature names.

The same seed and size always give byte-identical files.
"""

import os

import numpy as np


def generate(out_dir, prefix, seed, n_features, n_samples, n_planted,
             n_nan_features, n_inf_samples, shift=2.5):
    rng = np.random.default_rng(seed)
    group = rng.permutation(np.arange(n_samples) % 2)
    x = rng.standard_normal((n_features, n_samples))

    order = rng.permutation(n_features)
    planted = np.sort(order[:n_planted])
    nan_cols = np.sort(order[n_planted:n_planted + n_nan_features])
    signs = rng.choice([-1.0, 1.0], size=n_planted)
    x[planted] += (signs * shift)[:, None] * group[None, :]

    cells = np.char.mod("%.4f", x)
    for f in nan_cols:
        cells[f, rng.integers(n_samples)] = "nan"
    kept_cols = np.setdiff1d(np.arange(n_features), nan_cols)
    inf_samples = rng.choice(n_samples, size=n_inf_samples, replace=False)
    for s in inf_samples:
        cells[rng.choice(kept_cols), s] = rng.choice(["inf", "-inf"])

    names = np.array([f"f{i:05d}" for i in range(n_features)])
    samples = [f"s{i:04d}" for i in range(n_samples)]
    mol_path = os.path.join(out_dir, f"{prefix}_molecules.tsv")
    with open(mol_path, "w") as out:
        out.write("molecule\t" + "\t".join(samples) + "\n")
        for name, row in zip(names, cells):
            out.write(name + "\t" + "\t".join(row) + "\n")

    # group 1 dies about four times sooner; 20% of samples are censored
    scale = np.where(group == 1, 200.0, 800.0)
    time = np.round(rng.exponential(scale) + 1.0, 2)
    event = (rng.random(n_samples) < 0.8).astype(int)
    clin_path = os.path.join(out_dir, f"{prefix}_clinical.tsv")
    with open(clin_path, "w") as out:
        out.write("sample\tevent\ttime\n")
        for s, e, t in zip(samples, event, time):
            out.write(f"{s}\t{e}\t{t:.2f}\n")

    return {
        "molecules": os.path.basename(mol_path),
        "clinical": os.path.basename(clin_path),
        "planted": [str(n) for n in names[planted]],
        "raw_features": n_features,
        "raw_samples": n_samples,
        "kept_features": n_features - n_nan_features,
        "kept_samples": n_samples - n_inf_samples,
        "bytes": os.path.getsize(mol_path) + os.path.getsize(clin_path),
    }
