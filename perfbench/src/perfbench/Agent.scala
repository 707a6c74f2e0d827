package perfbench

import java.lang.instrument.{ClassFileTransformer, Instrumentation}
import java.security.ProtectionDomain

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, ClassWriter, MethodVisitor, Opcodes}
import org.apache.xbean.asm9.commons.AdviceAdapter

/** Java agent that opens a [[Trace]] span around each call into the
  * program's module entry points, without changing the program: at class
  * load it adds `Trace.enter(span, arg)` at method entry and
  * `Trace.exit(returnValue)` before every return and throw. Loaded only in
  * the traced run (`-javaagent`), so the untraced run executes the
  * program's bytecode unchanged. */
object Agent {

  /** A method to span, with the index of the argument kept on the span
    * (or -1). With `desc` set, `name` is a prefix and the descriptor must
    * match: that is how a lambda body is found, since scalac numbers them
    * (`$anonfun$apply$3`) but their signature is what the code says. */
  final case class Target(name: String, span: String, arg: Int = -1,
                          desc: String = null) {
    def matches(n: String, d: String, access: Int): Boolean =
      if (desc == null) n == name && (access & Skip) == 0
      else n.startsWith(name) && d == desc &&
        (access & Opcodes.ACC_ABSTRACT) == 0
  }

  /** Internal class name -> the methods of it to span. */
  val Targets: Map[String, Seq[Target]] = Map(
    "graft/io/Tables$" -> Seq(Target("table", "io.scan"),
      Target("csv", "io.scan")),
    // apply, and inside it the per-column schema probe: the body of
    // `columns.map { c => ... }`, (frame, ColumnSpec) => Column
    "graft/etl/FrameConfig" -> Seq(Target("apply", "etl.apply", 0),
      Target("$anonfun$apply", "etl.apply.probe", desc =
        "(Lorg/apache/spark/sql/Dataset;Lgraft/etl/ColumnSpec;)" +
          "Lorg/apache/spark/sql/Column;")),
    "graft/io/PartitionedWriter$" -> Seq(Target("write", "io.write")),
    "graft/jobs/TestpilotDaily$" -> Seq(Target("run", "jobs.testpilot")),
    "graft/llm/Dedup$" -> Seq(
      Target("exact", "llm.exact", 0),
      Target("minHashSignatures", "functions.minhash"),
      Target("minHashLsh", "llm.lsh"),
      Target("connectedComponents", "llm.cc")),
    "graft/jobs/CorpusPipeline$" -> Seq(Target("run", "jobs.corpus", 0)))

  def premain(args: String, inst: Instrumentation): Unit =
    inst.addTransformer(new ClassFileTransformer {
      override def transform(loader: ClassLoader, className: String,
                             cls: Class[_], pd: ProtectionDomain,
                             bytes: Array[Byte]): Array[Byte] =
        Targets.get(className).map { t =>
          try instrument(bytes, t)
          catch { case e: Throwable =>
            System.err.println(s"perfbench agent: $className: $e"); null }
        }.orNull
    })

  private val Skip = Opcodes.ACC_STATIC | Opcodes.ACC_ABSTRACT |
    Opcodes.ACC_BRIDGE | Opcodes.ACC_SYNTHETIC

  def instrument(bytes: Array[Byte], targets: Seq[Target]): Array[Byte] = {
    val reader = new ClassReader(bytes)
    val writer = new ClassWriter(reader, ClassWriter.COMPUTE_MAXS)
    reader.accept(new ClassVisitor(Opcodes.ASM9, writer) {
      override def visitMethod(access: Int, name: String, desc: String,
                               sig: String, exc: Array[String]): MethodVisitor = {
        val mv = super.visitMethod(access, name, desc, sig, exc)
        targets.find(_.matches(name, desc, access)) match {
          case Some(Target(_, span, arg, _)) =>
            new AdviceAdapter(Opcodes.ASM9, mv, access, name, desc) {
              override def onMethodEnter(): Unit = {
                visitLdcInsn(span)
                if (arg >= 0) loadArg(arg) else visitInsn(Opcodes.ACONST_NULL)
                visitMethodInsn(Opcodes.INVOKESTATIC, "perfbench/Trace",
                  "enter", "(Ljava/lang/String;Ljava/lang/Object;)V", false)
              }
              override def onMethodExit(opcode: Int): Unit = {
                if (opcode == Opcodes.ARETURN) dup()
                else visitInsn(Opcodes.ACONST_NULL)
                visitMethodInsn(Opcodes.INVOKESTATIC, "perfbench/Trace",
                  "exit", "(Ljava/lang/Object;)V", false)
              }
            }
          case _ => mv
        }
      }
    }, ClassReader.EXPAND_FRAMES)
    writer.toByteArray
  }
}
