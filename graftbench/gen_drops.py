#!/usr/bin/env python3
"""Seeded sequencing-run drops for the drop_ingest workload.

Writes, under OUT:

  base/<table>.parquet   history the stores are seeded with: BASE_DROPS
                         earlier runs' experiments, runs, files, collections
                         and read counts (MetadataStore tables) plus the
                         streamed file rows (BucketedStore table)
  drop_NNN/              one finished run each: SampleSheet.csv,
                         RunInfo.xml, fastq/*.fastq.gz (SAMPLES samples x
                         LANES lanes x R1/R2) and truth.tsv, which records
                         each file's name, size, md5 of the compressed
                         bytes and read count

The same seed gives byte-identical output (gzip mtime is fixed at 0).

File sizes are not taken from real sequencing runs, whose fastq.gz files
hold millions of reads each. They are picked to fit the benchmark's time
budget: READS_PER_FILE reads of READ_LEN bases, about 8 MB of fastq (2.5 MB
gzipped) per drop, keep a drop near 8 s on 4 cores, so that two fit in a
window, and generating a run's drops near 5 s. A traced run reports the
share of drop time that the md5 and read-count passes take
(pipelines.checksum_share).

Usage: python3 graftbench/gen_drops.py --seed 7 --drops 64 --out DIR
"""
import argparse
import gzip
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SAMPLES = 8
LANES = 2
READS = ("R1", "R2")
READ_LEN = 50
READS_PER_FILE = (1000, 3000)
GZ_BYTES_PER_READ = 39    # measured on files written by fastq() at level 1
BASE_DROPS = 150
INSTRUMENT = "K00345"
PLATFORM = INSTRUMENT


BASES = bytes(b"ACGT"[i % 4] for i in range(256))
QUALS = bytes(b"FFFF:,FF"[i % 8] for i in range(256))


def fastq(rng, n_reads, tag):
    lines = []
    for i in range(n_reads):
        lines += [f"@{tag}:{i} 1:N:0:1".encode(), rng.randbytes(READ_LEN).translate(BASES),
                  b"+", rng.randbytes(READ_LEN).translate(QUALS)]
    return b"\n".join(lines) + b"\n"


def sample_sheet(flowcell, samples):
    head = ["[Header]", "IEMFileVersion,4", f"Experiment Name,{flowcell}",
            "Workflow,GenerateFASTQ", "", "[Reads]", str(READ_LEN), str(READ_LEN),
            "", "[Settings]", "Adapter,AGATCGGAAGAGC", "", "[Data]",
            "Lane,Sample_ID,Sample_Name,Sample_Plate,Sample_Well,I7_Index_ID,"
            "index,I5_Index_ID,index2,Sample_Project,Description"]
    rows = []
    for lane in range(1, LANES + 1):
        for i, s in enumerate(samples):
            rows.append(f"{lane},{s},{s},,,N7{i:02d},ACGTAC{i:02d},S5{i:02d},"
                        f"TTGCA{i:02d},IGFP0001,")
    return "\n".join(head + rows) + "\n"


def run_info(run_id, flowcell):
    return (f'<?xml version="1.0"?>\n<RunInfo Version="2">\n'
            f'  <Run Id="{run_id}" Number="1">\n'
            f'    <Flowcell>{flowcell}</Flowcell>\n'
            f'    <Instrument>{INSTRUMENT}</Instrument>\n'
            f'    <Date>180610</Date>\n'
            f'    <Reads>\n'
            f'      <Read Number="1" NumCycles="{READ_LEN}" IsIndexedRead="N"/>\n'
            f'      <Read Number="2" NumCycles="8" IsIndexedRead="Y"/>\n'
            f'      <Read Number="3" NumCycles="{READ_LEN}" IsIndexedRead="N"/>\n'
            f'    </Reads>\n'
            f'    <FlowcellLayout LaneCount="{LANES}" SurfaceCount="2"/>\n'
            f'  </Run>\n</RunInfo>\n')


def write_drop(out, rng, k):
    flowcell = f"H{k:03d}{rng.randrange(16**4):04X}BBXY"
    drop = os.path.join(out, f"drop_{k:03d}")
    os.makedirs(os.path.join(drop, "fastq"))
    samples = [f"IGF{k:03d}{i:02d}" for i in range(SAMPLES)]
    truth = []
    for lane in range(1, LANES + 1):
        for i, s in enumerate(samples):
            for r in READS:
                name = f"{s}_S{i + 1}_L{lane:03d}_{r}_001.fastq.gz"
                n_reads = rng.randint(*READS_PER_FILE)
                data = gzip.compress(fastq(rng, n_reads, f"{flowcell}:{lane}"),
                                     compresslevel=1, mtime=0)
                with open(os.path.join(drop, "fastq", name), "wb") as f:
                    f.write(data)
                truth.append(f"{name}\t{len(data)}\t{hashlib.md5(data).hexdigest()}\t{n_reads}")
    with open(os.path.join(drop, "SampleSheet.csv"), "w") as f:
        f.write(sample_sheet(flowcell, samples))
    with open(os.path.join(drop, "RunInfo.xml"), "w") as f:
        f.write(run_info(f"180610_{INSTRUMENT}_{k:04d}_{flowcell}", flowcell))
    with open(os.path.join(drop, "truth.tsv"), "w") as f:
        f.write("\n".join(truth) + "\n")


def write_base(out, rng):
    """History shaped like what FastqIngestion.ingest writes for a drop."""
    cols = {t: {} for t in ("experiment", "run", "file", "collection",
                            "collection_group", "run_attribute", "stream_file")}

    def add(t, row):
        for c, v in row.items():
            cols[t].setdefault(c, []).append(v)

    for d in range(BASE_DROPS):
        flowcell = f"HIST{d:04d}XX"
        for i in range(SAMPLES):
            sample = f"HIST{d:04d}S{i:02d}"
            exp = f"{sample}_{PLATFORM}"
            add("experiment", dict(experiment_igf_id=exp, sample_name=sample))
            for lane in range(1, LANES + 1):
                run = f"{exp}_{flowcell}_{lane}"
                add("run", dict(run_igf_id=run, experiment_igf_id=exp, lane=str(lane)))
                add("collection", dict(name=run, type="demultiplexed_fastq", table="run"))
                for r in READS:
                    path = (f"file:/archive/{flowcell}/{sample}_S{i + 1}_"
                            f"L{lane:03d}_{r}_001.fastq.gz")
                    n_reads = rng.randint(*READS_PER_FILE)
                    size = n_reads * GZ_BYTES_PER_READ
                    md5 = "%032x" % rng.getrandbits(128)
                    add("file", dict(file_path=path, file_size=size, md5=md5))
                    add("collection_group", dict(name=run, file_path=path))
                    add("run_attribute", dict(run_id=run, attribute_name=f"{r}_READ_COUNT",
                                             attribute_value=str(n_reads)))
                    add("stream_file", dict(file_path=path, file_size=size, md5=md5,
                                           n_reads=n_reads, run_igf_id=run, read_type=r))
    base = os.path.join(out, "base")
    os.makedirs(base)
    for table, c in cols.items():
        pq.write_table(pa.table(c), os.path.join(base, f"{table}.parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--drops", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rng = random.Random(a.seed)
    os.makedirs(a.out)
    write_base(a.out, rng)
    for k in range(a.drops):
        write_drop(a.out, rng, k)


if __name__ == "__main__":
    main()
