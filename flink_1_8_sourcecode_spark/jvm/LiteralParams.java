package flink_1_8_sourcecode_spark.jvm;

import java.util.Set;

import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.SparkSessionExtensions;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.expressions.GetStructField;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.execution.ColumnarRule;
import org.apache.spark.sql.execution.FilterExec;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;
import scala.Function1;
import scala.Option;
import scala.runtime.AbstractFunction1;
import scala.runtime.AbstractPartialFunction;
import scala.runtime.BoxedUnit;

/**
 * Session extension ({@code spark.sql.extensions}): filter literals become
 * parameters of the generated code instead of part of its source.
 *
 * <p>Spark inlines primitive literals into generated Java, so every new query
 * parameter compiles a new class that then runs cold in the bytecode
 * interpreter.  This rule wraps each non-null primitive literal of a
 * {@code FilterExec} condition as {@code GetStructField(Literal(row,
 * struct<p: T not null>), 0)}; struct literals reach generated code through
 * {@code ctx.addReferenceObj}, so one query shape is one class whatever its
 * parameters.  It runs as a pre-columnar-transition rule, i.e. right before
 * {@code CollapseCodegenStages} (and per AQE stage), after constant folding,
 * filter pushdown, partition pruning and exchange reuse have seen plain
 * literals.  Applying it twice is a no-op: the struct literal is not rewritten.
 */
public final class LiteralParams extends AbstractFunction1<SparkSessionExtensions, BoxedUnit> {

  /** Types whose literals Spark writes into the generated source. */
  private static final Set<DataType> INLINED = Set.of(
      DataTypes.IntegerType, DataTypes.LongType, DataTypes.ShortType, DataTypes.ByteType,
      DataTypes.FloatType, DataTypes.DoubleType, DataTypes.DateType, DataTypes.TimestampType,
      DataTypes.TimestampNTZType);

  private static final AbstractPartialFunction<Expression, Expression> PARAMS =
      new AbstractPartialFunction<>() {
        @Override
        public boolean isDefinedAt(Expression e) {
          return e instanceof Literal
              && ((Literal) e).value() != null
              && INLINED.contains(e.dataType());
        }

        @Override
        public <A1 extends Expression, B1> B1 applyOrElse(A1 e, Function1<A1, B1> otherwise) {
          if (!isDefinedAt(e)) {
            return otherwise.apply(e);
          }
          Literal lit = (Literal) e;
          StructType struct = new StructType().add("p", lit.dataType(), false);
          Literal row = new Literal(new GenericInternalRow(new Object[] {lit.value()}), struct);
          @SuppressWarnings("unchecked")
          B1 param = (B1) new GetStructField(row, 0, Option.empty());
          return param;
        }
      };

  private static final AbstractPartialFunction<SparkPlan, SparkPlan> FILTERS =
      new AbstractPartialFunction<>() {
        @Override
        public boolean isDefinedAt(SparkPlan p) {
          return p instanceof FilterExec;
        }

        @Override
        public <A1 extends SparkPlan, B1> B1 applyOrElse(A1 p, Function1<A1, B1> otherwise) {
          if (!isDefinedAt(p)) {
            return otherwise.apply(p);
          }
          FilterExec filter = (FilterExec) p;
          Expression condition = filter.condition().transformUp(PARAMS);
          @SuppressWarnings("unchecked")
          B1 out = (B1) (condition == filter.condition() ? filter : filter.copy(condition, filter.child()));
          return out;
        }
      };

  /** The physical rule; a named class so plan-change logs name it. */
  private static final class FilterLiteralParams extends Rule<SparkPlan> {
    @Override
    public SparkPlan apply(SparkPlan plan) {
      return plan.transformUp(FILTERS);
    }
  }

  private static final Rule<SparkPlan> REWRITE = new FilterLiteralParams();

  private static final ColumnarRule COLUMNAR = new ColumnarRule() {
    @Override
    public Rule<SparkPlan> preColumnarTransitions() {
      return REWRITE;
    }
  };

  @Override
  public BoxedUnit apply(SparkSessionExtensions extensions) {
    extensions.injectColumnar(new AbstractFunction1<SparkSession, ColumnarRule>() {
      @Override
      public ColumnarRule apply(SparkSession session) {
        return COLUMNAR;
      }
    });
    return BoxedUnit.UNIT;
  }
}
