"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed and size: the same seed
writes byte-identical files, another seed writes different bytes of the
same size. Only the standard library is used, so the inputs do not
depend on which numeric packages the host has.

``methyl_cohort`` writes a cohort the way an Illumina scanner and a
lab would hand it over: one real IDAT v3 file per sample and channel,
an EPIC-like manifest (CSV) and a sample sheet (CSV). Planted truth:

* group B is hypermethylated on a contiguous block of one chromosome
  (the planted DMR) and on scattered single probes (planted DMPs);
* the rest of the genome has the same beta distribution in both groups.

The planted probe ids and regions are written to ``truth.json`` for the
output checks; the program never reads that file.
"""

import array
import hashlib
import json
import os
import random
import struct

# 24 chromosomes, scaled-down hg38 lengths (bp); every chromosome has a
# centromere-like gap that no probe falls into.
CHROMS = ["chr%d" % i for i in range(1, 23)] + ["chrX", "chrY"]
CHROM_LEN = [
    248956422, 242193529, 198295559, 190214555, 181538259, 170805979,
    159345973, 145138636, 138394717, 133797422, 135086622, 133275309,
    114364328, 107043718, 101991189, 90338345, 83257441, 80373285,
    58617616, 64444167, 46709983, 50818468, 156040895, 57227415,
]
# EPICv2 design mix: type II ~85%, type I-R ~10%, type I-G ~5%.
TYPE_MIX = (("II", None, 0.85), ("I", "R", 0.10), ("I", "G", 0.05))
N_NEG_CONTROLS = 400
DMR_CHROM, DMR_PROBES = "chr7", 120
N_SCATTERED_DMPS = 200


def _rng(seed, *salt):
    h = hashlib.sha256(("%d|" % seed + "|".join(map(str, salt))).encode())
    return random.Random(int.from_bytes(h.digest()[:8], "little"))


def idat_bytes(ids, means, barcode, n_beads=8, std=7):
    """An IDAT v3 binary with the sections graft's decoder reads: probe
    count (1000), illumina ids (102), means (104), std devs (103), bead
    counts (107), barcode (402), chip type (403) and run info (300)."""
    n = len(ids)

    def le(fmt, values):
        a = array.array(fmt, values)
        if struct.pack("=H", 1) != struct.pack("<H", 1):
            a.byteswap()
        return a.tobytes()

    def pstr(s):
        b = s.encode("utf-8")
        return bytes([len(b)]) + b

    secs = [
        (1000, struct.pack("<i", n)),
        (102, le("i", ids)),
        (104, le("H", means)),
        (103, le("H", [std] * n)),
        (107, bytes([n_beads]) * n),
        (402, pstr(barcode)),
        (403, pstr("BeadChip")),
        (300, struct.pack("<i", 0)),
    ]
    off = 4 + 8 + 4 + len(secs) * 10
    head = [b"IDAT", struct.pack("<qi", 3, len(secs))]
    for code, payload in secs:
        head.append(struct.pack("<Hq", code, off))
        off += len(payload)
    return b"".join(head + [p for _, p in secs])


def _gap(length):
    return int(length * 0.45), int(length * 0.5)


def _manifest(seed, n_probes):
    """(rows, truth) for an EPIC-like manifest of ``n_probes`` CpGs."""
    rng = _rng(seed, "manifest")
    total = sum(CHROM_LEN)
    counts = [max(8, int(n_probes * L / total)) for L in CHROM_LEN]
    counts[0] += n_probes - sum(counts)
    rows, next_addr = [], 1_000_000 + rng.randrange(1000)
    cg = []  # (probe_id, chrom, start)
    for chrom, length, k in zip(CHROMS, CHROM_LEN, counts):
        gap = _gap(length)
        # island clusters: probes come in runs of 1-8 within ~2 kb
        pos, starts = rng.randrange(10_000, 200_000), []
        step = (length - (gap[1] - gap[0])) // (k + 1)
        while len(starts) < k:
            run = min(k - len(starts), rng.randint(1, 8))
            for j in range(run):
                p = pos + j * rng.randint(40, 250)
                if gap[0] <= p < gap[1]:
                    p = gap[1] + (p - gap[0])
                starts.append(p)
            pos += step * run + rng.randrange(step // 2 + 1)
            if pos >= length - 10_000:
                pos = rng.randrange(10_000, 200_000)
        # probe ids follow genome order, so an id range is a region
        cg += [("cg%08d" % (len(cg) + i), chrom, p)
               for i, p in enumerate(sorted(starts))]
    # exact design counts per chromosome, so every seed writes files of
    # the same size
    kinds = []
    for k in counts:
        ks = [(inf, ch) for inf, ch, share in TYPE_MIX[1:]
              for _ in range(round(share * k))]
        ks += [TYPE_MIX[0][:2]] * (k - len(ks))
        rng.shuffle(ks)
        kinds += ks
    for (pid, chrom, start), (inf, ch) in zip(cg, kinds):
        a = next_addr
        b = next_addr + 1 if inf == "I" else None
        next_addr += 2
        rows.append((pid, inf, ch, "cg", a, b, chrom, start, start + 2))
    for i in range(N_NEG_CONTROLS):
        rows.append(("ctl_Negative_%d" % i, "II", None, "ctl", next_addr,
                     None, "", 0, 0))
        next_addr += 2
    # planted truth: a contiguous DMR block and scattered DMPs
    on_dmr = [i for i, c in enumerate(cg) if c[1] == DMR_CHROM]
    lo = min(len(on_dmr) // 3, len(on_dmr) - DMR_PROBES)
    if lo < 0:
        raise ValueError("too few probes on %s for the planted DMR"
                         % DMR_CHROM)
    dmr_idx = on_dmr[lo:lo + DMR_PROBES]
    in_dmr = set(dmr_idx)
    rest = [i for i in range(len(cg)) if i not in in_dmr]
    scattered = sorted(rng.sample(rest, N_SCATTERED_DMPS))
    truth = {
        "dmr": {"chromosome": DMR_CHROM, "start": cg[dmr_idx[0]][2],
                "end": cg[dmr_idx[-1]][2] + 2,
                "probes": [cg[i][0] for i in dmr_idx]},
        "dmps": sorted([cg[i][0] for i in dmr_idx] +
                       [cg[i][0] for i in scattered]),
    }
    return rows, truth


def write_methyl_cohort(out_dir, seed, n_samples=8, n_probes=32_000):
    """Write the cohort into ``out_dir``; returns the input record
    ``{"files": {name: {"bytes", "sha256"}}, "cells": int}``."""
    os.makedirs(out_dir, exist_ok=True)
    rows, truth = _manifest(seed, n_probes)
    planted = set(truth["dmps"])
    dmr_block = set(truth["dmr"]["probes"])
    # manifest: one row per illumina address, as graft's ManifestRow
    lines = ["illumina_id,probe_id,inf_type,channel,probe_type,address_a,"
             "address_b,chromosome,start,end,mask_info"]
    for pid, inf, ch, ptype, a, b, chrom, s, e in rows:
        for addr in (a, b):
            if addr is not None:
                # positions zero-padded: equal widths across seeds
                lines.append("%d,%s,%s,%s,%s,%d,%s,%s,%09d,%09d," % (
                    addr, pid, inf, ch or "", ptype, a,
                    "" if b is None else b, chrom, s, e))
    _write(out_dir, "manifest.csv", "\n".join(lines) + "\n")

    groups = ["A"] * (n_samples // 2) + ["B"] * (n_samples - n_samples // 2)
    sheet = ["sample_id,sample_name,sentrix_id,sentrix_position,grp"]
    rng = _rng(seed, "betas")
    base_beta = {}
    for pid, _, _, ptype, *_ in rows:
        if ptype == "cg":
            base_beta[pid] = (rng.uniform(0.05, 0.25) if rng.random() < 0.55
                              else rng.uniform(0.7, 0.92))
    affinity = {pid: rng.randint(2500, 9000) for pid, *_ in rows}
    addresses = sorted(a for r in rows for a in (r[4], r[5]) if a is not None)
    for k, grp in enumerate(groups):
        sid = "GSM%07d" % (100 + k)
        sentrix, pos = "2070%08d" % (seed % 10**8), "R%02dC01" % (k + 1)
        sheet.append(",".join((sid, "s%d" % k, sentrix, pos, grp)))
        srng = _rng(seed, "sample", k)
        scale = srng.uniform(0.85, 1.15)
        grn, red = {}, {}

        def bg():
            return int(srng.expovariate(1 / 250.0)) + 150

        for pid, inf, ch, ptype, a, b, chrom, s, e in rows:
            if ptype == "ctl":
                grn[a], red[a] = bg(), bg()
                continue
            beta = base_beta[pid]
            if pid in dmr_block:  # hypomethylated in A, hyper in B
                beta = 0.9 if grp == "B" else 0.1
            elif grp == "B" and pid in planted:
                beta = 0.92 if beta < 0.5 else 0.08
            beta = min(0.99, max(0.01, beta + srng.gauss(0, 0.02)))
            total = affinity[pid] * scale
            m = int(beta * total) + bg()
            u = int((1 - beta) * total) + bg()
            m, u = min(m, 65000), min(u, 65000)
            if inf == "II":
                grn[a], red[a] = m, u
            else:  # type I: A = unmethylated, B = methylated bead
                inband, oob = (grn, red) if ch == "G" else (red, grn)
                inband[a], inband[b] = u, m
                oob[a], oob[b] = bg(), bg()
        for tag, vals in (("Grn", grn), ("Red", red)):
            _write(out_dir, "%s_%s_%s_%s.idat" % (sid, sentrix, pos, tag),
                   idat_bytes(addresses, [vals[x] for x in addresses],
                              sentrix))
    _write(out_dir, "sample_sheet.csv", "\n".join(sheet) + "\n")
    truth["groups"] = groups
    _write(out_dir, "truth.json", json.dumps(truth, sort_keys=True))
    n_cells = n_samples * len(rows)
    return record(out_dir, cells=n_cells, samples=n_samples,
                  probes=len(rows))


def _write(out_dir, name, data):
    mode = "wb" if isinstance(data, bytes) else "w"
    with open(os.path.join(out_dir, name), mode) as f:
        f.write(data)


def record(out_dir, **extra):
    """Bytes and sha256 of every file under ``out_dir``."""
    files = {}
    for root, _, names in sorted(os.walk(out_dir)):
        for n in sorted(names):
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                data = f.read()
            files[os.path.relpath(p, out_dir)] = {
                "bytes": len(data), "sha256": hashlib.sha256(data).hexdigest()}
    return dict(files=files, **extra)
