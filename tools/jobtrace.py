#!/usr/bin/env python3
"""Render a per-query Spark job trace from an event log.

Usage: jobtrace.py <eventlog-file-or-dir> [query-name-filter]

Bench reps label jobs via setJobDescription("<name> repN") (guide §1.5);
this prints, for each matching job in submission order: duration, gap
since the latest end of any earlier job (driver planning/placement time;
0 while an earlier job is still running, as concurrent Par.jobs jobs
are), and the job's call site. Summary line: wall span, busy time (the
union of the job intervals, so overlapping jobs count once) and job
count — the wall-minus-busy difference is the driver-gap total the
optimization rounds chase.
"""
import json, sys, glob, os


def load(path):
    """Completed and running jobs of an event log: id -> dict(desc, site,
    t0, t1), times in ms, t1 None while the job has not ended."""
    # descend into rolling event-log dirs (eventlog_v2_*/events_*) to a file
    while os.path.isdir(path):
        entries = [p for p in glob.glob(os.path.join(path, '*'))
                   if not os.path.basename(p).startswith('appstatus_')]
        path = max(entries, key=os.path.getmtime)
    jobs = {}
    if path.endswith('.zstd'):
        import subprocess, io
        p = subprocess.Popen(['zstd', '-dc', path], stdout=subprocess.PIPE)
        fh = io.TextIOWrapper(p.stdout)
    else:
        fh = open(path)
    with fh as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get('Event') == 'SparkListenerJobStart':
                props = ev.get('Properties') or {}
                stages = ev.get('Stage Infos') or []
                site = stages[-1]['Stage Name'] if stages else '?'
                jobs[ev['Job ID']] = {
                    'desc': props.get('spark.job.description', ''),
                    'site': f"{site} ({len(stages)} stages)",
                    't0': ev['Submission Time'], 't1': None}
            elif ev.get('Event') == 'SparkListenerJobEnd':
                j = jobs.get(ev['Job ID'])
                if j is not None:
                    j['t1'] = ev['Completion Time']
    return jobs


def trace(jobs, want=None):
    """(rows, span_s, busy_s) for the completed jobs whose description
    contains `want`: rows are (duration_s, gap_s, site) in submission
    order; gap is against the latest end seen so far, clamped at 0."""
    sel = sorted((j for j in jobs.values()
                  if j['t1'] is not None and (want is None or want in j['desc'])),
                 key=lambda j: j['t0'])
    rows, busy, latest_end = [], 0, None
    for j in sel:
        if latest_end is None:
            gap, busy = 0, j['t1'] - j['t0']
        else:
            gap = max(0, j['t0'] - latest_end)
            # jobs arrive sorted by start, so the union grows only past
            # the latest end
            busy += max(0, j['t1'] - max(j['t0'], latest_end))
        latest_end = j['t1'] if latest_end is None else max(latest_end, j['t1'])
        rows.append(((j['t1'] - j['t0']) / 1000.0, gap / 1000.0, j['site']))
    span = (latest_end - sel[0]['t0']) / 1000.0 if sel else 0.0
    return rows, span, busy / 1000.0


def main(argv):
    rows, span, busy = trace(load(argv[1]), argv[2] if len(argv) > 2 else None)
    if not rows:
        print('no matching jobs')
        return
    for dur, gap, site in rows:
        print(f"  {dur:6.3f}s  gap {gap:6.3f}s  {site}")
    print(f"# wall span {span:.2f}s, busy {busy:.2f}s, jobs {len(rows)}")


if __name__ == '__main__':
    main(sys.argv)
