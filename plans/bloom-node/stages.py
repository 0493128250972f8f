"""Per-stage summary of a Spark event log, grouped by perfbench job group.
usage: stages.py <eventlog file> [group-substring]"""
import json, sys, collections
path = sys.argv[1]; want = sys.argv[2] if len(sys.argv) > 2 else ''
jobgroup = {}; stage_job = {}; stages = {}; tasks = collections.defaultdict(list)
for line in open(path):
    e = json.loads(line); ev = e['Event']
    if ev == 'SparkListenerJobStart':
        g = (e.get('Properties') or {}).get('spark.jobGroup.id', '')
        jobgroup[e['Job ID']] = g
        for s in e['Stage IDs']: stage_job.setdefault(s, e['Job ID'])
    elif ev == 'SparkListenerStageCompleted':
        si = e['Stage Info']; stages[si['Stage ID']] = si
    elif ev == 'SparkListenerTaskEnd':
        tasks[e['Stage ID']].append(e)
def acc(si, name):
    for a in si.get('Accumulables', []):
        if a.get('Name') == name: return float(a.get('Value', 0))
    return 0.0
rows = []
for sid, si in sorted(stages.items()):
    g = jobgroup.get(stage_job.get(sid), '')
    if want not in g: continue
    dur = (si.get('Completion Time', 0) - si.get('Submission Time', 0)) / 1e3
    sw = acc(si, 'internal.metrics.shuffle.write.bytesWritten') / 2**20
    sr = (acc(si, 'internal.metrics.shuffle.read.remoteBytesRead') + acc(si, 'internal.metrics.shuffle.read.localBytesRead')) / 2**20
    spill = acc(si, 'internal.metrics.diskBytesSpilled') / 2**20
    mem = acc(si, 'internal.metrics.memoryBytesSpilled') / 2**20
    run = acc(si, 'internal.metrics.executorRunTime') / 1e3
    inrec = acc(si, 'internal.metrics.input.recordsRead') + acc(si, 'internal.metrics.shuffle.read.recordsRead')
    outrec = acc(si, 'internal.metrics.shuffle.write.recordsWritten')
    rows.append((g, sid, si['Number of Tasks'], dur, run, inrec, outrec, sr, sw, spill, mem, si['Stage Name'][:60]))
print(f"{'group':<42} {'stage':>5} {'tasks':>5} {'wall_s':>7} {'task_s':>7} {'rec_in':>10} {'rec_out':>10} {'shr_MB':>8} {'shw_MB':>8} {'spill_disk_MB':>13} {'spill_mem_MB':>12} name")
for r in rows:
    print(f"{r[0]:<42} {r[1]:>5} {r[2]:>5} {r[3]:7.3f} {r[4]:7.3f} {int(r[5]):>10} {int(r[6]):>10} {r[7]:8.2f} {r[8]:8.2f} {r[9]:13.2f} {r[10]:12.2f} {r[11]}")
