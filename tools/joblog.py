#!/usr/bin/env python3
"""Parse a Spark event log: print per-job wall, stage breakdown.

    python3 tools/joblog.py [--gaps] [EVENT_LOG]

EVENT_LOG is a plain or zstd-compressed event log file, or a rolling
`eventlog_v2_*` directory; the default is the newest entry under
/tmp/spark-events. zstd logs are read through the `zstd` command.

--gaps prints one line per job instead, in submission order: the driver
gap before it (time since every earlier-submitted job had ended; 0 while
one is still running), its wall time, its job group and its call site.
The call site is the job's `callSite.short` property when set, else its
result stage's name, which Spark takes from the same call site. Jobs that
adaptive execution submits from its own thread pool name a pool frame
there, so for those the query's call site is taken from its SQL
execution instead (the first frame outside Spark, Scala and the JDK),
marked `(aqe)`. A per-group total of jobs and gap time follows, so a
gate's job count and its between-job driver time can be traced to code
lines.
"""
import glob
import json
import os
import re
import subprocess
import sys


def lines(path):
    if os.path.isdir(path):
        def index(f):
            m = re.match(r"events_(\d+)_", os.path.basename(f))
            return int(m.group(1)) if m else 0
        for f in sorted(glob.glob(os.path.join(path, "events_*")), key=index):
            yield from lines(f)
    elif path.endswith(".zstd"):
        out = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True).stdout
        yield from out.decode().splitlines()
    else:
        with open(path) as f:
            yield from f


def user_frame(details):
    """First stack frame of a SQL execution's call site outside Spark,
    Scala and the JDK, as `File.scala:NN method`."""
    for fr in details.splitlines():
        m = re.match(r"\s*(?:[\w.$]+/)?([\w.$]+)\.([\w$]+)\(([^)]*)\)", fr)
        if m and not re.match(r"(org\.apache\.spark|scala|java|jdk|sun)\.", m.group(1)):
            return f"{m.group(3)} {m.group(2)}"
    return None


def gaps(jobs, executions):
    busy_until = None
    per_group = {}
    print(f"{'job':>5} {'gap_s':>7} {'wall_s':>7}  group  call site")
    for jid in sorted(jobs, key=lambda j: (jobs[j]['t0'], j)):
        j = jobs[jid]
        if 't0' not in j or 't1' not in j:
            continue
        gap = 0.0 if busy_until is None else max(0.0, (j['t0'] - busy_until) / 1000)
        busy_until = j['t1'] if busy_until is None else max(busy_until, j['t1'])
        props = j['props']
        site = props.get('callSite.short') or j['site']
        if 'withThreadLocalCaptured' in site:
            frame = user_frame(executions.get(props.get('spark.sql.execution.id'), ''))
            site = f"{frame} (aqe)" if frame else site
        group = props.get('spark.jobGroup.id') or '-'
        n, g = per_group.get(group, (0, 0.0))
        per_group[group] = (n + 1, g + gap)
        print(f"{jid:5d} {gap:7.3f} {(j['t1'] - j['t0']) / 1000:7.3f}  {group}  {site}")
    print("\ngroup: jobs, summed gap_s")
    for group, (n, g) in per_group.items():
        print(f"  {group}: {n} jobs, {g:.3f} s")


def main(argv):
    show_gaps = '--gaps' in argv
    args = [a for a in argv if a != '--gaps']
    path = args[0] if args else max(glob.glob('/tmp/spark-events/*'), key=os.path.getmtime)
    jobs = {}; stages = {}; executions = {}
    for line in lines(path):
        try: e = json.loads(line)
        except ValueError: continue
        t = e.get('Event')
        if t == 'SparkListenerJobStart':
            infos = e['Stage Infos']
            jobs[e['Job ID']] = {'t0': e['Submission Time'],
                'desc': e.get('Properties', {}).get('spark.job.description', '')[:90],
                'props': e.get('Properties', {}),
                'site': max(infos, key=lambda s: s['Stage ID'])['Stage Name'] if infos else '',
                'stages': [s['Stage ID'] for s in infos]}
        elif t == 'SparkListenerJobEnd':
            jobs.setdefault(e['Job ID'], {}).update(t1=e['Completion Time'])
        elif t == 'SparkListenerStageCompleted':
            si = e['Stage Info']
            stages[si['Stage ID']] = {'name': si['Stage Name'][:70], 'tasks': si['Number of Tasks'],
                'ms': si.get('Completion Time', 0) - si.get('Submission Time', 0)}
        elif t and t.endswith('SparkListenerSQLExecutionStart'):
            executions[str(e['executionId'])] = e.get('details', '')
    if show_gaps:
        gaps(jobs, executions)
        return
    for jid in sorted(jobs):
        j = jobs[jid]
        if 't1' not in j or 't0' not in j: continue
        print(f"job {jid:3d} {(j['t1']-j['t0'])/1000:7.2f}s  {j.get('desc','')}")
        for sid in j.get('stages', []):
            s = stages.get(sid)
            if s and s['ms'] > 80: print(f"    stage {sid:3d} {s['ms']/1000:6.2f}s tasks={s['tasks']:3d} {s['name']}")


if __name__ == '__main__':
    main(sys.argv[1:])
