#!/usr/bin/env python3
"""Round-8 quality parity: key the engine's 8-family x 20-dataset sweep to
the reference's OWN published per-dataset aggregates.

Reference side: Evaluation_Auxiliary/AE_results.ipynb cell 26 prints the
published training-recon mean/std for every (model, dataset) cell of the
simulation grid (8 models x 20 datasets = 160 rows) — the exact numbers
behind the paper's recon heatmap (cells 33-34). Cells 39-40 publish the
training NB-classification accuracy (1.0 for every model on the shown
dataset; the cell-43 heatmap renders the full all-1.0 grid).

Engine side: QUALITY_r8_*.log qsweep rows (from the since-removed
QualitySweep `ref` mode: search -> retrain -> per-subject train recon
(A10) -> embedding NB CV (M1), nTrials=3, epochScale=0.02, seeded).

Checks (per family):
  B1 nb-acc:    engine mean NB accuracy == 1.000 on all 20 datasets,
                matching the reference's published training accuracy.
  B2 outlier:   the reference's strongest published recon signal — MOCSS
                is the reconstruction outlier (max of the 8 families) on
                every dataset. Engine must agree on all 20.
  B3 pairwise:  for every (family pair, dataset) where the reference
                separation is ROBUST (|mean_f - mean_g| > 2*sqrt(std_f^2
                + std_g^2)), the engine must order the pair the same way.
                (Non-robust pairs are noise even between reference reruns
                — their stds overlap — so they are not banded.)
  B4 splice:    every (family, dataset) cell measured in BOTH the r7
                'archs' slice and the r8 'ref' grid (and any cell measured
                twice across r8 worker logs) must agree bit-for-bit —
                JVM-split invariance.

Usage: python3 scripts/quality_bands.py [--md QUALITY_r8.md]
"""
import json, glob, re, sys, math
from collections import defaultdict

REF_NB = '/root/reference/Evaluation_Auxiliary/AE_results.ipynb'
# reference model name -> engine family name
NAME_MAP = {
    'CNC_AE': 'CNC_AE', 'X_AE': 'X_AE', 'MM_AE': 'MM_AE',
    'MOCSS_AE': 'MOCSS', 'NonOrtho_AE': 'JISAE',
    'Ortho_AE1': 'JISAE-O1', 'Ortho_AE2': 'JISAE-O2',
    'Ortho_AE3': 'JISAE-O3'}
FAMILIES = list(NAME_MAP.values())
DATASETS = [f'{g}_groups_{d}' for g in (2, 3, 4, 5)
            for d in ('0.2', '0.4', '0.6', '0.8', '1')]


def load_reference():
    nb = json.load(open(REF_NB))
    # locate the cell whose stream output holds the 160 published rows
    text = None
    for c in nb['cells']:
        for o in c.get('outputs', []):
            if o.get('output_type') == 'stream':
                t = ''.join(o['text'])
                if 'training_recon_loss' in t and t.count('\n') >= 159:
                    text = t
    assert text, 'published recon table not found in notebook'
    ref = {}
    pat = re.compile(
        r'^(\w+?)_(\d_groups_[\d.]+)_diff_training_recon_loss '
        r'([\d.eE+-]+) ([\d.eE+-]+)$')
    for line in text.strip().split('\n'):
        m = pat.match(line.strip())
        assert m, f'unparsed reference row: {line!r}'
        model, ds, mean, std = m.groups()
        ref[(NAME_MAP[model], ds)] = (float(mean), float(std))
    assert len(ref) == 160, f'expected 160 reference cells, got {len(ref)}'
    return ref


ROW = re.compile(
    r'^\[qsweep\] ([\w-]+),(\d_groups_[\d.]+),(\d+),([\d.]+),([\d.]+),'
    r'([\d.]+),([\d.]+),([\d.]+),([\d.]+)')


def load_logs(paths):
    """-> {(family, ds): (recon_mean, recon_std, nb_acc)}, conflicts[]"""
    cells, conflicts = {}, []
    for p in paths:
        for line in open(p):
            m = ROW.match(line.strip())
            if not m:
                continue
            fam, ds = m.group(1), m.group(2)
            val = (float(m.group(7)), float(m.group(8)), float(m.group(9)))
            key = (fam, ds)
            if key in cells and cells[key] != val:
                conflicts.append((key, cells[key], val, p))
            cells[key] = val
    return cells, conflicts


def main():
    ref = load_reference()
    # The band tables are defined over the STANDARD budget (nTrials=3,
    # epochScale=0.02). The `_attr*` logs are the budget-attribution
    # experiment (5x epochs / wider search) — intentionally different
    # values, so they must not overwrite grid cells or register as B4
    # splice mismatches. They get their own section below.
    all_logs = sorted(glob.glob('QUALITY_r8_*.log')
                  + glob.glob('logs/QUALITY_r8_*.log')
                  + glob.glob('logs/QUALITY_r9*.log'))
    grid_logs = [p for p in all_logs if '_attr' not in p]
    attr_logs = [p for p in all_logs if '_attr' in p]
    eng, conflicts = load_logs(grid_logs)
    # Attr runs probe different budget axes (5x epochs; 8 trials x 5x
    # epochs; ...). Each axis is kept as ITS OWN series keyed by log file
    # — merging with a per-cell best-of-N would be a selection effect
    # that biases the moved-toward-published count upward as more budget
    # axes are added. Cells measured in several axes also get a per-cell
    # mean row for a bias-free single summary.
    attr_by_axis = {}   # log path -> {(fam, ds): (mean, std, nb)}
    for p in attr_logs:
        one, _ = load_logs([p])
        if one:
            attr_by_axis[p] = one
    r7_paths = glob.glob('QUALITY_r7.log') + glob.glob('logs/QUALITY_r7.log')
    r7, _ = load_logs(r7_paths)

    missing = [(f, d) for f in FAMILIES for d in DATASETS
               if (f, d) not in eng]
    if missing:
        print(f'INCOMPLETE: {len(missing)} cells missing, e.g. '
              f'{missing[:6]}', file=sys.stderr)

    # B4 splice invariance (r8-internal conflicts + r7 overlap)
    splice_bad = list(conflicts)
    for key, v in r7.items():
        if key in eng and eng[key] != v:
            # name the files actually loaded, not a hardcoded path that
            # may not be the source of the conflicting value
            splice_bad.append((key, v, eng[key], '+'.join(r7_paths)))
    n_overlap = sum(1 for k in r7 if k in eng)

    detail = '--detail' in sys.argv
    disagreements = []
    rows = []
    b3_checked_total = b3_agree_total = 0
    for fam in FAMILIES:
        have = [d for d in DATASETS if (fam, d) in eng]
        # B1: NB accuracy
        nb_ok = sum(1 for d in have if abs(eng[(fam, d)][2] - 1.0) < 1e-9)
        # B2: MOCSS outlier agreement (both sides computed per dataset)
        out_ok = out_n = 0
        for d in have:
            others = [f for f in FAMILIES if (f, d) in eng]
            if len(others) < len(FAMILIES):
                continue   # can't rank until every family has the cell
            out_n += 1
            ref_max = max(FAMILIES, key=lambda f: ref[(f, d)][0])
            eng_max = max(FAMILIES, key=lambda f: eng[(f, d)][0])
            agree = ((ref_max == fam) == (eng_max == fam))
            out_ok += agree
        # B3: robust pairwise orderings involving this family
        checked = agree = 0
        for d in have:
            rm, rs = ref[(fam, d)]
            for g in FAMILIES:
                if g == fam or (g, d) not in eng:
                    continue
                gm, gs = ref[(g, d)]
                if abs(rm - gm) <= 2 * math.hypot(rs, gs):
                    continue   # not robust in the reference itself
                checked += 1
                if (rm > gm) == (eng[(fam, d)][0] > eng[(g, d)][0]):
                    agree += 1
                elif fam < g:
                    disagreements.append(
                        (d, fam, g, rm, gm,
                         eng[(fam, d)][0], eng[(g, d)][0]))
        b3_checked_total += checked
        b3_agree_total += agree
        rows.append((fam, len(have), nb_ok, out_ok, out_n, agree, checked))

    # report
    hdr = ('| family | cells | B1 nb-acc=1.0 | B2 MOCSS-outlier | '
           'B3 robust-pair agreement | verdict |')
    sep = '|---|---|---|---|---|---|'
    out = [hdr, sep]
    for fam, n, nb_ok, out_ok, out_n, agree, checked in rows:
        v = ('PASS' if n == 20 and nb_ok == n and out_ok == out_n
             and agree == checked else
             ('partial' if n < 20 else 'FAIL'))
        out.append(f'| {fam} | {n}/20 | {nb_ok}/{n} | {out_ok}/{out_n} | '
                   f'{agree}/{checked} | {v} |')
    print('\n'.join(out))
    print()
    # per-family rows count pairs from that family's end; the grid total
    # counts each unordered pair once
    print(f'B3 grid total: {b3_agree_total // 2}/{b3_checked_total // 2} '
          f'robust reference orderings reproduced')
    print(f'B4 splice: {n_overlap} r7-overlap cells re-measured, '
          f'{len(splice_bad)} mismatches')
    for bad in splice_bad[:10]:
        print('  SPLICE MISMATCH:', bad)
    if detail and disagreements:
        print('\nB3 disagreements (dataset, pair, ref means, eng means):')
        for d, f_, g, rm, gm, em, egm in disagreements:
            print(f'  {d}: ref {f_}={rm:.3f} vs {g}={gm:.3f}; '
                  f'eng {f_}={em:.3f} vs {g}={egm:.3f}')
    ref_mocss_max = sum(
        1 for d in DATASETS
        if max(FAMILIES, key=lambda f: ref[(f, d)][0]) == 'MOCSS')
    print(f'reference-side check: MOCSS is published recon max on '
          f'{ref_mocss_max}/20 datasets')

    if attr_by_axis:
        print('\nBudget attribution (higher-budget re-runs vs the '
              'standard-budget grid; published recon mean as the target).')
        print('Each budget axis (log) reported separately — no per-cell '
              'best-of merge across axes:')
        cell_runs = defaultdict(list)
        for p in sorted(attr_by_axis):
            axis = attr_by_axis[p]
            closer = 0
            print(f'  axis {p}:')
            for (fam, d), (am, _astd, anb) in sorted(axis.items()):
                pm = ref[(fam, d)][0]
                gm, _gstd, gnb = eng.get((fam, d), (float('nan'),) * 3)
                trend = (' recon->pub' if abs(am - pm) < abs(gm - pm)
                         else '') + (' nb->1.0' if anb > gnb else '')
                closer += bool(trend.strip())
                cell_runs[(fam, d)].append((am, anb))
                print(f'    {fam} {d}: grid recon {gm:.4f} nb {gnb:.4f} | '
                      f'axis recon {am:.4f} nb {anb:.4f} | '
                      f'pub recon {pm:.3f}{trend or " (no move)"}')
            print(f'    {closer}/{len(axis)} cells moved toward published '
                  f'on this axis')
        print('  Per-cell MEANS across attr runs (bias-free summary):')
        closer = 0
        for (fam, d), runs in sorted(cell_runs.items()):
            am = sum(r[0] for r in runs) / len(runs)
            anb = sum(r[1] for r in runs) / len(runs)
            pm = ref[(fam, d)][0]
            gm, _gstd, gnb = eng.get((fam, d), (float('nan'),) * 3)
            trend = (' recon->pub' if abs(am - pm) < abs(gm - pm)
                     else '') + (' nb->1.0' if anb > gnb else '')
            closer += bool(trend.strip())
            print(f'    {fam} {d} (n={len(runs)}): grid recon {gm:.4f} '
                  f'nb {gnb:.4f} | mean recon {am:.4f} nb {anb:.4f} | '
                  f'pub recon {pm:.3f}{trend or " (no move)"}')
        print(f'  {closer}/{len(cell_runs)} re-run cells moved toward the '
              f'published values on the per-cell mean')
    return 0 if not splice_bad else 1


if __name__ == '__main__':
    sys.exit(main())
