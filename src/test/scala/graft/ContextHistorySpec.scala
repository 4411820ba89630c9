package graft

import java.sql.Timestamp

import graft.context.ContextAssembler
import graft.memory.MemoryStore
import graft.model.Message
import graft.serve.{ChatService, Snapshot}
import graft.task.TaskStore

/** The ReAct loop restarts `seq` at 0 every turn, so the prompt's
  * conversation history must order by turn time first: sorted by `seq`
  * alone, every turn's user message came first. */
class ContextHistorySpec extends SparkSpec {

  test("history lists two turns' messages in turn order") {
    val s = spark
    import s.implicits._
    val messages = Seq(
      Message("s1", 0L, "user", "q2", new Timestamp(200L)),
      Message("s1", 1L, "assistant", "a1", new Timestamp(100L)),
      Message("s1", 0L, "user", "q1", new Timestamp(100L))).toDS()
    val rows = Snapshot.of(
      ChatService.State(MemoryStore.empty(spark), TaskStore.empty(spark), messages), Nil)
    assert(ContextAssembler.prompt(rows, "s1", "q", None, 0L).linesIterator.toSeq ===
      ContextAssembler.systemRules.linesIterator.toSeq ++
        Seq("", "## Conversation:", "user: q1", "assistant: a1", "user: q2") ++
        Seq("", "## Query:", "q"))
  }
}
