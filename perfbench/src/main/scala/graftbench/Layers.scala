package graftbench

import java.util.concurrent.atomic.LongAdder

import graft.providers.{ChatProvider, EmbeddingProvider}
import graft.store.{SearchHit, VectorStore}

/** Call counters for the provider and store seams. They live in a
  * static object because the wrappers are serialized into Spark task
  * closures; in local mode every copy runs in this JVM and counts here. */
object Calls {
  val embedCalls, embedTexts, embedNs, chatCalls, chatNs, searchCalls,
      searchNs = new LongAdder

  def snap(): Map[String, Double] = Map(
    "providers.embed_calls" -> embedCalls.sum.toDouble,
    "providers.embed_texts" -> embedTexts.sum.toDouble,
    "providers.embed_ms" -> embedNs.sum / 1e6,
    "providers.chat_calls" -> chatCalls.sum.toDouble,
    "providers.chat_ms" -> chatNs.sum / 1e6,
    "store.search_calls" -> searchCalls.sum.toDouble,
    "store.search_ms" -> searchNs.sum / 1e6)
}

/** Delegating embedder: graft sees an ordinary [[EmbeddingProvider]]. */
final class CountingEmbedder(inner: EmbeddingProvider) extends EmbeddingProvider {
  override def dim: Int = inner.dim
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = inner.embedBatch(texts)
    val t1 = System.nanoTime()
    Calls.embedCalls.increment(); Calls.embedTexts.add(texts.size)
    Calls.embedNs.add(t1 - t0)
    Trace.record("providers.embed", t0, t1)
    out
  }
}

final class CountingChat(inner: ChatProvider) extends ChatProvider {
  override def completeBatch(prompts: Seq[String], systemPrompt: String): Seq[String] = {
    val t0 = System.nanoTime()
    val out = inner.completeBatch(prompts, systemPrompt)
    val t1 = System.nanoTime()
    Calls.chatCalls.increment(); Calls.chatNs.add(t1 - t0)
    Trace.record("providers.chat", t0, t1)
    out
  }
}

final class CountingStore(inner: VectorStore) extends VectorStore {
  override def size: Int = inner.size
  override def search(query: Array[Float], k: Int, numCandidates: Int): Seq[SearchHit] = {
    val t0 = System.nanoTime()
    val out = inner.search(query, k, numCandidates)
    val t1 = System.nanoTime()
    Calls.searchCalls.increment(); Calls.searchNs.add(t1 - t0)
    Trace.record("store.search", t0, t1)
    out
  }
  override def searchDiverse(query: Array[Float], k: Int, lambda: Double,
                             numCandidates: Int): Seq[SearchHit] =
    inner.searchDiverse(query, k, lambda, numCandidates)
}
