"""Unit tests for the source and plan scans under tools/.

Run from the repo root: python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                os.pardir))
import clone_scan  # noqa: E402
import plan_diff  # noqa: E402


def dump(entries):
    """An sbt-prefixed Explain dump of {entry: plan text}."""
    out = ['[info] welcome to sbt', '[error] 26/01/01 INFO SparkContext: up']
    for name, plan in entries.items():
        out.append(f'[info] ########## {name}')
        out += ['[info] ' + line for line in plan.strip('\n').split('\n')]
    out.append('[success] Total time: 1 s')
    return [line + '\n' for line in out]


class PlanDiffTest(unittest.TestCase):
    def norm(self, line):
        return plan_diff.number_ids([plan_diff.normalize(line)])[0]

    def test_normalizes_what_varies_between_jvms(self):
        a = self.norm(
            'Arguments: [doc_id#3352L], MapPartitionsRDD[816] at '
            'localCheckpoint at CurateOps.scala:40, [plan_id=22159], '
            'graft.ops.Forecast$$$Lambda$5671/0x00007fd501651400@5ca15fbc, '
            'file:/tmp/graft_daily_e2e_123456789/x, '
            'blockmgr-f6d1de94-720b-4f22-9e98-b814e36e8686')
        b = self.norm(
            'Arguments: [doc_id#7L], MapPartitionsRDD[3] at '
            'localCheckpoint at CurateOps.scala:41, [plan_id=9], '
            'graft.ops.Forecast$$$Lambda$12/0x00007f0000000a00@1b2c3d4e, '
            'file:/tmp/graft_daily_e2e_987/x, '
            'blockmgr-00000000-1111-2222-3333-444444444444')
        self.assertEqual(a, b)
        self.assertIn('doc_id#1L', a)
        self.assertIn('CurateOps.scala:N', a)
        # a renamed column or another source file is not normalized away
        self.assertNotEqual(self.norm('ref_id#1L'), self.norm('doc_id#1L'))
        self.assertNotEqual(self.norm('DedupOps.scala:3'),
                            self.norm('CurateOps.scala:3'))
        # ids keep which references name the same attribute
        self.assertEqual(self.norm('(doc_id#40L < doc_id#12L)'),
                         self.norm('(doc_id#8L < doc_id#3L)'))
        self.assertNotEqual(self.norm('(doc_id#40L < doc_id#40L)'),
                            self.norm('(doc_id#8L < doc_id#3L)'))

    def test_parse_strips_sbt_prefixes(self):
        plans = plan_diff.parse(dump({'q_a': 'Sort (2)\n+- Scan (1)'}))
        self.assertEqual(plans, {'q_a': ['Sort (2)', '+- Scan (1)']})

    JOIN = ('Project (3)\n+- Filter (2)\n   +- Scan (1)\n'
            'Output: [doc_id#12L, doc_id#40L]\n'
            'Condition: (doc_id#12L < doc_id#40L)')

    def test_verdicts(self):
        base = 'Expand [[event_type#1, null, 1], [null, user_id#2, 2]]'
        swapped = 'Expand [[user_id#5, null, 1], [null, event_type#6, 2]]'
        flipped = self.JOIN.replace('(doc_id#12L < doc_id#40L)',
                                    '(doc_id#40L < doc_id#12L)')
        moved = 'Filter (3)\n+- Project (2)\n   +- Scan (1)\n' + \
            self.JOIN.split('\n', 3)[3]
        a = plan_diff.parse(dump({'same': base, 'expand': base,
                                  'new': base, 'gone': base,
                                  'operands': self.JOIN,
                                  'moved': self.JOIN}))
        b = plan_diff.parse(dump({'same': base.replace('#1', '#9'),
                                  'expand': swapped,
                                  'new': base.replace('user_id', 'ref_id'),
                                  'operands': flipped, 'moved': moved}))
        self.assertEqual(plan_diff.verdict(a['same'], b['same']), 'same')
        self.assertEqual(plan_diff.verdict(a['expand'], b['expand']),
                         'reordered')
        self.assertEqual(plan_diff.verdict(a['operands'], b['operands']),
                         'reordered')
        self.assertEqual(plan_diff.verdict(a['moved'], b['moved']),
                         'changed')
        self.assertEqual(plan_diff.verdict(a['new'], b['new']), 'changed')
        self.assertEqual(plan_diff.verdict(a['gone'], b.get('gone')),
                         'changed')

    def exit_status(self, a, b):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for i, entries in enumerate((a, b)):
                paths.append(os.path.join(d, f'{i}.txt'))
                with open(paths[-1], 'w', encoding='utf-8') as f:
                    f.writelines(dump(entries))
            with contextlib.redirect_stdout(io.StringIO()) as out:
                status = plan_diff.main(paths)
            return status, out.getvalue()

    def test_reordered_passes_only_for_expand_order_entries(self):
        base = 'Expand [[event_type#1, null, 1], [null, user_id#2, 2]]'
        swapped = 'Expand [[user_id#5, null, 1], [null, event_type#6, 2]]'
        status, out = self.exit_status({'q_chi2': base, 'q_a': self.JOIN},
                                       {'q_chi2': swapped, 'q_a': self.JOIN})
        self.assertEqual(status, 0, out)
        self.assertIn('q_chi2 reordered\n', out)
        flipped = self.JOIN.replace('(doc_id#12L < doc_id#40L)',
                                    '(doc_id#40L < doc_id#12L)')
        status, out = self.exit_status({'q_chi2': base, 'q_a': self.JOIN},
                                       {'q_chi2': base, 'q_a': flipped})
        self.assertEqual(status, 1, out)
        self.assertIn('q_a reordered (unexpected)', out)


class CloneScanTest(unittest.TestCase):
    def scan(self, src):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, 'A.scala')
            with open(path, 'w', encoding='utf-8') as f:
                f.write(src)
            return clone_scan.clones(path)

    BODY = ['val a = 1', 'val b = a + 1', 'val c = b * 2', 'val d = c - a',
            'val e = d / 2', 'val f = e + c']

    def test_planted_clone_is_found(self):
        src = '\n'.join(['object A {', 'def x = {'] + self.BODY +
                        ['x(f) }', 'def y = {'] + self.BODY + ['y(f) }', '}'])
        groups, starts = self.scan(src)
        self.assertEqual(starts, 2)
        self.assertEqual(groups, [[(3, 8), (11, 16)]])

    def test_five_statements_are_not_a_clone(self):
        body = self.BODY[:5]
        src = '\n'.join(['def x = {'] + body + ['x(e) }', 'def y = {'] +
                        body + ['y(e) }'])
        self.assertEqual(self.scan(src), ([], 0))

    def test_comments_and_sql_lines_are_ignored(self):
        comment = ['/** line one', '  * line two', '  * line three',
                   '  * line four', '  * line five', '  * line six */']
        sql = ['s"""SELECT a,', '   |  b,', '   |  c,', '   |  d,',
               '   |  e,', '   |  f,', '   |  g', '   |FROM t""".stripMargin']
        lines = comment + ['val p = 1'] + comment + ['val q = 2'] + \
            ['// ' + s for s in self.BODY] + ['val r = 3'] + \
            ['// ' + s for s in self.BODY] + ['val s = 4'] + \
            ['val u = ' + sql[0]] + sql[1:] + ['val v = ' + sql[0]] + sql[1:]
        self.assertEqual(self.scan('\n'.join(lines)), ([], 0))


if __name__ == '__main__':
    unittest.main()
